"""r16: report_copurchase_pairs' chunked pair expansion (VERDICT r15 #6).

The r6 shape flattened ALL of a basket's i<j pairs into one in-row
array — m² structs materialized at once for a hot basket, and a narrow
stage AQE cannot split. The r16 shape explodes (ci <= cj) chunk-index
pairs of the sorted basket and expands at most _BASKET_CHUNK² structs
per generated row; the sorted+deduped basket makes every cross-chunk
(ci < cj) pair automatically ordered. These tests pin multiset
equivalence of the pair expansion at the default chunk size (every
sf-fixture basket takes the single (0,0) row) and at a forced tiny cap
that exercises the diagonal/off-diagonal split on real data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, Window

from tests.conftest import SF_SMOKE

pytestmark = pytest.mark.usefixtures("spark")


def _old_shape(spark, sf_dir):
    """The r6 in-basket expansion, reconstructed as the truth leg."""
    from nyc_traffic_insight_spark.sources.catalog import load_table_wide

    li = load_table_wide(
        spark, sf_dir, "lineitem", "l_orderkey",
        columns=("l_orderkey", "l_partkey"),
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    ps = F.expr(
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "y -> struct(x AS part_a, y AS part_b))))"
    )
    pairs = (
        baskets.select(F.explode(ps).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    top = pairs.orderBy(
        F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")
    ).limit(25)
    w = Window.orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
    return top.select(
        "part_a", "part_b", "n_orders",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_chunked_matches_r6_shape(spark):
    import nyc_traffic_insight_spark.queries.behaviorq as bq

    assert _rows(bq.report_copurchase_pairs(spark, SF_SMOKE)) == _rows(
        _old_shape(spark, SF_SMOKE)
    )


def test_chunked_matches_at_forced_tiny_cap(spark, monkeypatch):
    """cap=4 forces multi-chunk baskets on the real fixture, so the
    diagonal (within-chunk i<j) and off-diagonal (full cross) branches
    both execute."""
    import nyc_traffic_insight_spark.queries.behaviorq as bq

    monkeypatch.setattr(bq, "_BASKET_CHUNK", 4)
    assert _rows(bq.report_copurchase_pairs(spark, SF_SMOKE)) == _rows(
        _old_shape(spark, SF_SMOKE)
    )
