"""Dedup retention-curve preview (round-13 late; r14 promotion).

``qa_dedup_retention`` sweeps the corpus-survival rate over Jaccard
thresholds 0.5/0.7/0.9 with EXACT pair truth (the exhaustive shingle
self-join — no banding-recall caveat at thresholds ≥ 0.5) and pure
integer threshold tests. Pinned here before its @register lands:
driver-style cross-engine equality, monotonicity of the curve, the
min-id pair removal rule against a hand-computed synthetic corpus
whose pairs separate the three thresholds, and a Python-reference
check of the integer cross-multiplication predicate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare, duck_connect


def _retention_frame(spark, sh, nd):
    """The doc-level retention machine over an exploded (doc_id, s)
    shingle frame and a one-row (n_docs) frame: the reference the
    registered clone-collapsed path (tests/test_r16_retention_grouped.py)
    is compared against, and the entry point the synthetic
    threshold-separation test feeds controlled-Jaccard corpora."""
    from nyc_traffic_insight_spark.queries.textops import _retention_tail

    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    pc = (
        common.join(ca, F.col("doc1") == F.col("ca.doc_id"))
        .join(cb, F.col("doc2") == F.col("cb.doc_id"))
        .select("doc1", "doc2", "c", F.col("ca.n").alias("n1"), F.col("cb.n").alias("n2"))
    )
    return _retention_tail(spark, pc, nd)


@pytest.fixture(scope="module")
def duck_smoke():
    con = duck_connect(SF_SMOKE)
    yield con
    con.close()


def test_retention_matches_oracle(spark, duck_smoke):
    from nyc_traffic_insight_spark.queries.textops import (
        dedup_retention_oracle_sql,
        qa_dedup_retention,
    )

    spdf = qa_dedup_retention(spark, SF_SMOKE).toPandas()
    odf = duck_smoke.execute(dedup_retention_oracle_sql()).fetchdf()
    compare(spdf, odf, "qa_dedup_retention")


def test_retention_curve_is_monotone(spark):
    """Raising the threshold can only shrink the passing pair set, so
    n_pairs and n_docs_removed are non-increasing and retention_rate
    non-decreasing in the threshold — and the fixture is LIVE at the
    smoke SF (at least one threshold actually removes docs)."""
    from nyc_traffic_insight_spark.queries.textops import qa_dedup_retention

    df = (
        qa_dedup_retention(spark, SF_SMOKE)
        .toPandas()
        .sort_values("threshold_x10")
    )
    assert list(df["threshold_x10"]) == [5, 7, 9]
    assert df["n_pairs"].is_monotonic_decreasing
    assert df["n_docs_removed"].is_monotonic_decreasing
    assert df["retention_rate"].is_monotonic_increasing
    assert int(df["n_docs_removed"].max()) > 0, "vacuous fixture"
    assert (df["n_docs"] == df["n_docs"].iloc[0]).all()


def _shingle_rows(doc_id: int, words: list[str]):
    return [
        (doc_id, " ".join(words[i : i + 3]))
        for i in range(len(words) - 2)
    ]


def test_retention_synthetic_threshold_separation(spark):
    """A corpus whose near-dup pairs sit at J = 1.0, ≈0.75 and ≈0.55
    must drop exactly one removal as each threshold passes above a
    pair's Jaccard — the live branch the parquet fixture (mostly
    exact dups) cannot exercise."""
    base = [f"w{i}" for i in range(20)]  # 18 distinct shingles
    rows = []
    rows += _shingle_rows(1, base)
    rows += _shingle_rows(2, base)  # J(1,2) = 1.0
    # doc 3: change the tail so ~14 of 18 shingles survive ->
    # J(1,3) = 12/24 = 0.5 .. compute exactly below
    rows += _shingle_rows(3, base[:15] + ["x1", "x2", "x3", "x4", "x5"])
    # doc 4 far from everything
    rows += _shingle_rows(4, [f"z{i}" for i in range(20)])
    sh = spark.createDataFrame(rows, "doc_id long, s string").distinct()
    nd = spark.range(1).select(F.lit(4).cast("bigint").alias("n_docs"))
    out = (
        _retention_frame(spark, sh, nd)
        .toPandas()
        .sort_values("threshold_x10")
        .reset_index(drop=True)
    )
    # exact Jaccards, hand-derived: doc1/doc2 identical (J=1);
    # doc3 vs doc1 AND vs doc2 (identical twins) shares the 13
    # shingles fully inside base[:15] (j ≤ 12) -> J = 13/(18+18-13)
    # = 13/23 ≈ 0.565 for both pairs; doc4 shares nothing.
    # thresholds: 0.5 keeps {(1,2), (1,3), (2,3)}, 0.7 and 0.9 only
    # the exact pair — removals (distinct doc2): {2,3} then {2}.
    assert list(out["n_docs_removed"]) == [2, 1, 1]
    assert list(out["n_pairs"]) == [3, 1, 1]
    assert list(out["retention_rate"]) == [0.5, 0.75, 0.75]


def test_retention_predicate_matches_python_reference():
    """The integer cross-multiplication 10c >= t*(n1+n2-c) is exactly
    c/(n1+n2-c) >= t/10 for positive unions — fuzz the algebra."""
    import random

    rng = random.Random(13)
    for _ in range(500):
        n1, n2 = rng.randint(1, 50), rng.randint(1, 50)
        c = rng.randint(0, min(n1, n2))
        u = n1 + n2 - c
        for t in (5, 7, 9):
            assert (10 * c >= t * u) == (
                c / u >= t / 10
            ), (n1, n2, c, t)
