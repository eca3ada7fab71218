"""Partition-pruned layout: the §3.3 serving-side design, pinned.

The reference's /map endpoint downloads and re-parses a 515 MB GeoJSON
per request and filters features in a Python loop (main.py:175-191).
The engine's layout is hive-partitioned parquet where the same
(borough, year)-shaped predicate prunes directories before any IO.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from nyc_traffic_insight_spark.sources import load_table
from nyc_traffic_insight_spark.sources.catalog import write_partitioned
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events").withColumn("yr", F.year("ts"))
    path = str(tmp_path / "events_by_type")
    write_partitioned(ev, path, "event_type", "yr")

    some_type = ev.select("event_type").first()[0]
    pruned = spark.read.parquet(path).filter(
        (F.col("event_type") == some_type) & (F.col("yr") >= 2024)
    )
    plan = _plan(pruned)
    # the predicate became directory pruning, not a post-scan filter
    # (columns carry expr ids in the plan: `event_type#15 = click`)
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert f"= {some_type})" in pf and "yr" in pf
    # and values round-trip exactly vs filtering the unpartitioned table
    want = ev.filter(
        (F.col("event_type") == some_type) & (F.col("yr") >= 2024)
    ).count()
    assert pruned.count() == want > 0


def test_partition_scan_reads_single_directory(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events")
    path = str(tmp_path / "by_type")
    write_partitioned(ev, path, "event_type")
    # addressing one partition directory directly is also valid layout
    # usage (the reference's per-borough request maps to exactly this)
    one = spark.read.parquet(f"{path}/event_type=click")
    assert one.count() == ev.filter(F.col("event_type") == "click").count() > 0
    files = one.inputFiles()
    assert files and all("event_type=click" in f for f in files)


def test_wide_table_passthrough_on_cluster_shaped_layout(spark, tmp_path):
    """VERDICT r4 #4: the engine's cluster-shape claim, pinned end-to-end.

    `_wide_table` repartitions+persists ONLY when the parquet footer says
    the scan cannot parallelize (row groups < cores). Stage the
    documents/embeddings tables the way a cluster writer would — a
    64-file directory via repartition(64).write — and pin that the
    builder returns the raw scan: no Exchange, no InMemoryRelation, no
    cache entry, and a real downstream query produces identical results
    against either layout."""
    from nyc_traffic_insight_spark import session
    from nyc_traffic_insight_spark.queries import textops

    staged = tmp_path / "sf_cluster"
    staged.mkdir()
    for name in ("documents", "embeddings"):
        src = load_table(spark, SF_SMOKE, name)
        src.repartition(64).write.parquet(str(staged / f"{name}.parquet"))
        rg = textops._parquet_row_groups(str(staged), name)
        assert rg is not None and rg >= 64  # one row group per file min

        df = textops._wide_table(spark, str(staged), name)
        key = (spark.sparkContext.applicationId, "wide", str(staged), name)
        assert key not in session._HELD
        plan = df._jdf.queryExecution().executedPlan().toString()
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Exchange" not in plan
        assert "InMemoryRelation" not in optimized
        assert "InMemoryTableScan" not in plan
        assert "Scan parquet" in plan

    # a real catalog query over the cluster-shaped layout matches the
    # same query over the original single-row-group fixture
    from nyc_traffic_insight_spark.queries import load_all

    builder = load_all()["text_token_count"].builder
    got = {tuple(r) for r in builder(spark, str(staged)).collect()}
    want = {tuple(r) for r in builder(spark, SF_SMOKE).collect()}
    assert got == want and len(want) > 0


def test_compaction_reduces_file_count_and_preserves_rows(spark):
    """layout_compact_files must leave fewer, larger files with exactly
    the staged content (count parity is also hash-proven vs the oracle
    in test_queries_oracle)."""
    import glob
    import os
    import tempfile

    from nyc_traffic_insight_spark.queries import load_all

    load_all()["layout_compact_files"].builder(spark, SF_SMOKE).collect()
    base = os.path.join(
        tempfile.gettempdir(),
        "ntis_scratch",
        f"pid{os.getpid()}",
        os.path.basename(os.path.normpath(SF_SMOKE)),
        "compact_events",
    )
    frags = glob.glob(os.path.join(base, "fragments", "*.parquet"))
    compacted = glob.glob(os.path.join(base, "compacted", "*.parquet"))
    assert len(frags) == 64
    assert 1 <= len(compacted) < len(frags)
    total = sum(os.path.getsize(f) for f in frags)
    import math

    assert len(compacted) == max(1, math.ceil(total / (1024 * 1024)))


def test_layout_partition_pruning_plan_prunes(spark):
    """The day filter must reach the FileSourceScan as a PartitionFilter
    (directory pruning), not a post-scan Filter over all days."""
    from nyc_traffic_insight_spark.queries import load_all

    df = load_all()["layout_partition_pruning"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "2024-01-05" in m.group(1), plan[:1500]
