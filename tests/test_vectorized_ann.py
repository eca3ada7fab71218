"""Vectorized ANN scorer vs the exact JVM-HOF baseline.

The numpy path sums in pairwise/SIMD order, so cosines differ from the
sequential fold in the last ulp and exact rank equality is not
guaranteed — recall and score agreement are the correct contracts.
"""

from __future__ import annotations

from nyc_traffic_insight_spark.queries import load_all
from tests.conftest import SF_SMOKE


def test_vectorized_topk_recall(spark):
    specs = load_all()
    exact = specs["sim_search_bruteforce_topk"].builder(spark, SF_SMOKE).collect()
    fast = specs["sim_search_topk_vectorized"].builder(spark, SF_SMOKE).collect()

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    a, b = by_query(exact), by_query(fast)
    assert set(a) == set(b)
    total = hits = 0
    for q in a:
        total += len(a[q])
        hits += len(a[q] & b[q])
    assert hits / total >= 0.99, f"recall {hits/total:.3f}"

    # scores for shared (query, neighbor) pairs agree at the rounded 4dp
    ae = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    af = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in fast}
    for key in set(ae) & set(af):
        assert abs(ae[key] - af[key]) <= 1e-4, (key, ae[key], af[key])


def test_kmeans_ivf_recall(spark):
    # IVF is an explicit recall/cost trade: nprobe=2 of 10 cells scans
    # ~20% of the corpus. On this synthetic corpus the exact top-10
    # cross cluster boundaries heavily (measured recall ~0.4 for
    # learned centroids vs ~0.28 for the label cells — the learned
    # quantizer IS better), so the honest contracts are: far above the
    # ~2% random-candidate baseline, and at least the label variant.
    from nyc_traffic_insight_spark.queries.textops import _ivf_kmeans_topk

    specs = load_all()
    exact = specs["sim_search_bruteforce_topk"].builder(spark, SF_SMOKE).collect()
    ivf = _ivf_kmeans_topk(spark, SF_SMOKE).collect()
    lab = specs["sim_search_ivf_topk"].builder(spark, SF_SMOKE).collect()

    def g(rows):
        d = {}
        for r in rows:
            d.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return d

    a, b, c = g(exact), g(ivf), g(lab)
    assert set(b) == set(a)
    total = sum(len(v) for v in a.values())
    hits = sum(len(a[q] & b.get(q, set())) for q in a)
    hits_lab = sum(len(a[q] & c.get(q, set())) for q in a)
    assert hits / total >= 0.3, f"recall {hits/total:.3f}"
    assert hits >= hits_lab, "learned centroids should beat label cells"
    # the registered audit entry distills the same contract per query
    audit = specs["sim_search_ivf_kmeans"].builder(spark, SF_SMOKE).collect()
    assert {r["query_id"] for r in audit} == set(a)
    assert all(r["retrieved_some"] and r["recall_floor_ok"] for r in audit)


def test_kmeans_ivf_topk_matches_oracle(spark):
    """The learned-centroid top-k value-for-value against DuckDB. The
    registered sim_search_ivf_kmeans is an audit (its centroids come
    from a seeded MLlib fit), but the top-k frame runs sim_search_ivf_topk's
    probe path with a different centroid table — so its oracle is that
    entry's registered text from `assign` on, behind the fitted
    centroids spelled as a VALUES table."""
    from nyc_traffic_insight_spark.queries.textops import (
        _ivf_kmeans_topk,
        _kmeans_centroids,
    )
    from tests.oracle_utils import compare, duck_connect

    cents = [[float(v) for v in c] for c in _kmeans_centroids(spark, SF_SMOKE)]
    # each vector as a string cast, so DuckDB parses every double with
    # its own round-trip parser rather than as a DECIMAL literal
    values = ", ".join(f"({i}, '{c}'::DOUBLE[])" for i, c in enumerate(cents))
    centroids = f"SELECT * FROM (VALUES {values}) t(cell, cvec)"
    oracle = load_all()["sim_search_ivf_topk"].oracle
    sql = (
        f"WITH centroids AS ({centroids}),\n    "
        + oracle[oracle.index("assign AS (") :]
    )
    con = duck_connect(SF_SMOKE)
    try:
        seen = con.sql(centroids + " ORDER BY cell").fetchall()
        assert [list(v) for _, v in seen] == cents  # bit-exact literal
        want = con.sql(sql).df()
    finally:
        con.close()
    got = _ivf_kmeans_topk(spark, SF_SMOKE).toPandas()
    assert len(got) == 50  # 5 queries x top-10
    compare(got, want, "ivf_kmeans_topk")


def test_kmeans_clusters(spark):
    specs = load_all()
    rows = specs["ml_kmeans"].builder(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["k_requested"] == 10
    assert r["n_vectors_total"] == 500  # sf0.001 embeddings
    assert r["sizes_sum_to_total"] is True


def test_pca_projection_invariants(spark):
    """The eigenvector sign/order itself has no SQL value oracle; the
    registered emb_pca_project entry audits the contracts (variance =
    eigenvalue, centered means, ordering, orthonormality) and this test
    pins the raw pca_scores frame the audit rides on: centered scores,
    variance sorted descending component-by-component, total projected
    variance bounded by the covariance trace, and sign-fix determinism."""
    import numpy as np

    from nyc_traffic_insight_spark.queries import load_all
    from nyc_traffic_insight_spark.queries.textops import pca_scores
    from tests.conftest import SF_SMOKE

    specs = load_all()
    pdf = pca_scores(spark, SF_SMOKE).toPandas()
    pcs = [c for c in pdf.columns if c.startswith("pc")]
    assert len(pcs) == 8 and len(pdf) > 0
    scores = pdf[pcs].to_numpy()
    # projections of centered data: means ~ 0 (rounding at 6dp)
    assert np.abs(scores.mean(axis=0)).max() < 1e-3
    # variance ordering follows the eigenvalue ordering
    var = scores.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(len(var) - 1))
    # total projected variance can't exceed the covariance trace
    cov_pdf = specs["emb_covariance_matrix"].builder(spark, SF_SMOKE).toPandas()
    trace = cov_pdf[cov_pdf.i == cov_pdf.j]["cov"].sum()
    assert var.sum() <= trace + 1e-6
    # determinism: rebuilding yields identical scores (sign fix works)
    pdf2 = pca_scores(spark, SF_SMOKE).toPandas()
    assert np.array_equal(
        pdf.sort_values("vec_id")[pcs].to_numpy(),
        pdf2.sort_values("vec_id")[pcs].to_numpy(),
    )
    # the registered audit distills these contracts per component, with
    # the row count exact-checkable by the SQL oracle
    audit = specs["emb_pca_project"].builder(spark, SF_SMOKE).toPandas()
    assert len(audit) == 8
    assert (audit["n_scores"] == len(pdf)).all()
    for col in (
        "score_mean_centered",
        "var_matches_eigval",
        "eig_descending",
        "orthonormal",
    ):
        assert audit[col].all(), f"{col} flipped: {audit}"
