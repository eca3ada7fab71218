"""r16: qa_dedup_retention's clone-collapse rework (VERDICT r15 #7).

The exact retention curve's pair machine is quadratic in clone count
by construction when run over DOCS (a cluster of m identical shingle
sets emits m² join rows per shared shingle — the r14 decade probe
measured ×24.8 bytes per salted-clone decade). The r16 shape collapses
identical sets first and reconstructs the identical numbers in closed
form: C(m,2) within-group pairs and m−1 within-group removals at every
threshold (J = 1), plus m1·m2 pairs and count_distinct(doc2) removals
over the PASSING representative pairs. These tests pin the
reconstruction against the original doc-level machine — the machine
the DuckDB oracle (byte-unchanged) still describes.

Probe evidence (OPTIMIZATION_r16.md): at ×100 clones of the sf0.001
corpus the doc-level machine ran 210 s, the grouped machine 3.1 s,
flat from the ×10 decade — linear in clones, quadratic only in
DISTINCT sets (the irreducible exact-truth term).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.test_dedup_retention import _retention_frame

pytestmark = pytest.mark.usefixtures("spark")


def _sets(d):
    """The catalog's trigram shingle-set builder over (doc_id, text)."""
    w = "split(lower(text), '\\\\s+')"
    n = f"greatest(size({w}) - 2, 0)"
    sh = (
        f"zip_with(zip_with(slice({w}, 1, {n}), slice({w}, 2, {n}),"
        " (a, b) -> concat(a, ' ', b)),"
        f" slice({w}, 3, {n}), (ab, c) -> concat(ab, ' ', c))"
    )
    return d.select(
        "doc_id", F.array_distinct(F.expr(sh)).alias("sh")
    ).filter(F.size("sh") > 0)


def _both(spark, d):
    import nyc_traffic_insight_spark.queries.textops as t

    sets = _sets(d)
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    grouped = sorted(
        map(tuple, t._retention_grouped(spark, sets, nd).collect())
    )
    exact = sorted(
        map(
            tuple,
            _retention_frame(
                spark,
                sets.select("doc_id", F.explode("sh").alias("s")),
                nd,
            ).collect(),
        )
    )
    return grouped, exact


def test_grouped_matches_doc_level_on_clone_clusters(spark):
    """Clone clusters of mixed sizes + near-dup cross-group overlap +
    a shingle-less doc (must count in n_docs, never in pairs)."""
    rows = []
    did = 0
    for text, m in (
        ("alpha beta gamma delta epsilon", 6),
        ("one two three four five six", 4),
        ("x y z w v u t s", 3),
    ):
        for _ in range(m):
            rows.append((did, text))
            did += 1
    rows += [
        (did, "alpha beta gamma delta zeta"),  # near-dup of cluster 1
        (did + 1, "unique doc words entirely different here"),
        (did + 2, "one two three four nine ten"),  # near-dup of cluster 2
        (did + 3, "too short"),  # no trigram: in n_docs only
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    grouped, exact = _both(spark, d)
    assert grouped == exact
    # the shingle-less doc is in the denominator
    assert grouped[0][3] == len(rows)


def test_grouped_matches_doc_level_interleaved_ids(spark):
    """Member ids interleaved across clusters — exercises the
    min(g2)-is-the-only-new-removal argument when group minima do not
    order the members."""
    texts = [
        "red orange yellow green blue indigo",
        "red orange yellow green blue violet",
        "cyan magenta black white gray silver",
    ]
    rows = [(i, texts[i % 3]) for i in range(12)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    grouped, exact = _both(spark, d)
    assert grouped == exact


def test_grouped_matches_registered_query(spark):
    """The registered builder (grouped path) equals the doc-level
    machine on the standard smoke corpus."""
    import nyc_traffic_insight_spark.queries.textops as t

    q = sorted(
        map(tuple, t.qa_dedup_retention(spark, SF_SMOKE).collect())
    )
    ds = t._shingle_sets_persisted(spark, SF_SMOKE)
    nd = t._docs(spark, SF_SMOKE).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    exact = sorted(
        map(
            tuple,
            _retention_frame(
                spark,
                ds.select("doc_id", F.explode("sh").alias("s")),
                nd,
            ).collect(),
        )
    )
    assert q == exact
