"""r15 scale-k-with-n SemDeDup index (VERDICT r14 #5).

Every gate SF has n ≤ 2000 → m = 1, so the registered oracle runs
never exercise the sub-cell arithmetic. These tests build a >2000-row
jittered corpus (the decade probe's deterministic jitter, shrunk), so
m > 1 and the full scaled path — m formula, own-cos buckets, sub-cell
centroids, assignment — must agree cross-engine bit-for-bit, and the
index must actually have 10·m cells with bounded occupancy.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def big_sf(tmp_path_factory):
    """A 5000-vector jittered corpus (10× the sf0.001 base) in a
    scratch sf dir → m = ceil(5000/2000) = 3, k = 30."""
    from nyc_traffic_insight_spark.session import get_spark

    spark = get_spark()
    out = str(tmp_path_factory.mktemp("semdedup_scale"))
    base = spark.read.parquet(os.path.join(SF_SMOKE, "embeddings.parquet"))
    reps = spark.range(10).withColumnRenamed("id", "k")
    rep = base.crossJoin(F.broadcast(reps)).withColumn(
        "vec_id", F.col("vec_id") + F.col("k") * 1_000_000
    )
    jittered = F.transform(
        F.col("embedding"),
        lambda x, i: (
            x
            * (
                1.0
                + (
                    (F.col("vec_id") * 131 + i * 17 + F.col("k") * 7919)
                    % 2001
                    - 1000
                ).cast("double")
                * 1e-4
            )
        ).cast("float"),
    )
    rep = rep.withColumn(
        "embedding",
        F.when(F.col("k") == 0, F.col("embedding")).otherwise(jittered),
    )
    rep.drop("k").repartition(4).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )
    return out


def test_scaled_index_shape(spark, big_sf):
    import nyc_traffic_insight_spark.queries.embcurate as ec

    cells = ec._semdedup_index(spark, big_sf)["cells"]
    # 10 labels × m=3 sub-cells; empty sub-cells may drop out, but the
    # index must be strictly larger than the fixed-k base and bounded
    # by 10·m
    assert 10 < len(cells) <= 30
    assert all(len(vec) == 64 for _, vec in cells)


def test_scaled_semdedup_matches_oracle(spark, big_sf):
    """The full dedup_semantic output at m = 3 vs the DuckDB oracle —
    the same comparison the driver runs at gate SFs, on the corpus
    size where the scaled arithmetic is live."""
    import nyc_traffic_insight_spark.queries.embcurate as ec
    from tests.oracle_utils import compare

    spdf = ec.dedup_semantic(spark, big_sf).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(big_sf, 'embeddings.parquet', '*.parquet')}'"
    )
    odf = con.sql(ec.dedup_semantic_oracle_sql()).fetchdf()
    compare(spdf, odf, "dedup_semantic[scale-k]")
    # the scaled index must still dedup: the jittered replicas are
    # near-dups of their base vectors, most of which share a bucket
    kept = spdf[spdf.is_kept]
    assert len(kept) < len(spdf) * 0.6


def test_scaled_occupancy_is_bounded(spark, big_sf):
    """The point of scale-k: mean occupancy ≈ n/k stays near the
    target instead of growing with n."""
    import nyc_traffic_insight_spark.queries.embcurate as ec

    spdf = (
        ec.dedup_semantic(spark, big_sf)
        .groupBy("cell")
        .count()
        .toPandas()
    )
    mean_occ = spdf["count"].mean()
    assert mean_occ <= 2 * ec._SEMDEDUP_TARGET_OCC
