"""streaming/events: the REAL Structured Streaming execution path.

The batch forms of these transformations are oracle-checked in
test_queries_oracle.py (stream_* queries); here the same code runs as
an actual readStream → watermark → windowed agg → checkpointed
writeStream job (availableNow trigger), proving the unified-model claim
rather than assuming it.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.sources import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture()
def source_dir(spark, tmp_path):
    """Events parquet re-written through load_table so the stream reads
    proper TIMESTAMP (the raw testdata file is TIMESTAMP(NANOS))."""
    src = str(tmp_path / "src")
    load_table(spark, SF_SMOKE, "events").write.parquet(src)
    yield src
    shutil.rmtree(src, ignore_errors=True)


def _run_stream_to_parquet(df, tmp_path, tag):
    out = str(tmp_path / f"{tag}_out")
    (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / f"{tag}_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return out


def test_stream_stream_join_matches_batch(spark, tmp_path, source_dir):
    from nyc_traffic_insight_spark.streaming.events import correlate_streams

    ev = spark.read.parquet(source_dir)
    types = [r[0] for r in ev.select("event_type").distinct().collect()]
    t_click, t_buy = sorted(types)[0], sorted(types)[-1]

    def side(t):
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(source_dir)
            .filter(F.col("event_type") == t)
        )

    out = _run_stream_to_parquet(
        correlate_streams(side(t_click), side(t_buy)), tmp_path, "ss"
    )
    got = {tuple(r) for r in spark.read.parquet(out).collect()}

    def batch(t):
        return ev.filter(F.col("event_type") == t)

    want = {tuple(r) for r in correlate_streams(batch(t_click), batch(t_buy)).collect()}
    # append-mode emits pairs the watermark has finalized; all emitted
    # pairs must be real, and the vast majority of pairs are emitted
    assert got <= want
    assert len(got) >= max(1, int(len(want) * 0.8))


def test_throttled_ingest_resumes_from_checkpoint(spark, tmp_path):
    """S12: maxFilesPerTrigger=1 ingest with checkpoint/resume.

    Phase 1 stages 3 source files and drains them one per micro-batch;
    phase 2 adds 2 more files and restarts against the SAME checkpoint —
    only the new files may be ingested (offsets resume), and nothing is
    double-counted (exactly-once sink commit log)."""
    from nyc_traffic_insight_spark.streaming.events import run_throttled_ingest

    ev = load_table(spark, SF_SMOKE, "events")
    total = ev.count()
    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "out")

    first = ev.filter(F.col("event_id") % 5 < 3)
    second = ev.filter(F.col("event_id") % 5 >= 3)
    first.repartition(3).write.mode("append").parquet(src)

    run_throttled_ingest(spark, src, chk, out, files_per_trigger=1)
    n1 = spark.read.parquet(out).count()
    assert n1 == first.count()

    second.repartition(2).write.mode("append").parquet(src)
    run_throttled_ingest(spark, src, chk, out, files_per_trigger=1)

    got = spark.read.parquet(out)
    assert got.count() == total  # nothing lost...
    assert got.select("event_id").distinct().count() == total  # ...or duplicated

    # re-run with NO new files: offsets say everything is committed
    run_throttled_ingest(spark, src, chk, out, files_per_trigger=1)
    assert spark.read.parquet(out).count() == total


def test_disorder_audit_on_shuffled_stream(spark):
    """disorder_audit must quantify real out-of-orderness: feed a
    stream whose arrival order (event_id) deliberately disagrees with
    event time and check the lateness stats against a NumPy golden."""
    import numpy as np
    import pandas as pd

    from nyc_traffic_insight_spark.queries.streamingq import disorder_audit

    rng = np.random.default_rng(7)
    n = 500
    base = pd.Timestamp("2024-01-01")
    # event time ordered; arrival order = event time + bounded jitter
    ts = base + pd.to_timedelta(np.arange(n) * 60, unit="s")
    arrival_rank = np.argsort(np.arange(n) + rng.integers(0, 10, n))
    pdf = pd.DataFrame(
        {
            "event_type": ["a"] * n,
            "event_id": np.empty(n, dtype=np.int64),
            "ts": ts,
        }
    )
    pdf.loc[arrival_rank, "event_id"] = np.arange(n, dtype=np.int64)

    # numpy golden: running max over arrival order
    order = pdf.sort_values("event_id")
    run_max = order["ts"].cummax()
    late = (run_max - order["ts"]).dt.total_seconds().astype(int)
    golden_n_late = int((late > 0).sum())
    golden_max = int(late.max())

    got = disorder_audit(spark.createDataFrame(pdf)).collect()[0]
    assert got["n"] == n
    assert got["n_late"] == golden_n_late > 0
    assert got["max_late_s"] == golden_max > 0
