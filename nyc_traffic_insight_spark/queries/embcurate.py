"""Catalog: embedding-curation operators (the D4 pipeline tier).

`dedup_semantic` (SemDeDup, Abbas et al. 2023 — within-cluster
cosine-threshold pruning), `emb_prototypes_filter` (SSL Prototypes,
Sorscher et al. 2022 / D4, Tirumala et al. 2023 — prune the
most-prototypical tenth per cluster), and the composed
`pipeline_d4_curation` (SemDeDup, then the prototype prune re-scoped
to the survivors — D4's two stages end-to-end). All three run on
textops' deterministic label-derived centroid artifact, so all three
carry FULL value-hash DuckDB oracles built from ONE shared
centroid-assignment CTE fragment (the texts cannot drift), and all
three route vectors with textops' one nearest-centroid scorer
(_cells_lit / _ranked_cells), the one the IVF tiers use. Scale
arguments: SCALE.md "Dedup / similarity / sketches"; tests:
tests/test_semdedup.py, test_proto_filter.py, test_d4_pipeline.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.queries import register

from nyc_traffic_insight_spark.functions.rounding import r as _r
from nyc_traffic_insight_spark.queries.textops import (
    _CELLS_T,
    _DIM,
    _cells_lit,
    _cells_payload,
    _dot,
    _embs,
    _fold_idx_sql,
    _ivf_centroids,
    _norm,
    _ranked_cells,
)


# ------------------------- SemDeDup
#
# dedup_embedding_cosine is the brute-force O(n²) recall baseline;
# SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication") is the production shape
# modern pretraining pipelines actually run: cluster the embeddings
# with a coarse quantizer, then prune near-duplicates WITHIN each
# cluster only — the pair cost drops from O(n²) to Σ|cell|², bounded
# by construction when k scales with the corpus (the paper runs
# k≈110k on LAION; here k=|labels|=10 at test SF). This composes the
# two machines the catalog already trusts: the deterministic
# label-derived centroid artifact of sim_search_ivf_topk (per-component
# mean rounded 6dp — both engines hold bit-identical centroids, so the
# FULL pipeline gets a value-hash oracle, no contract-audit fallback
# needed) and dedup_embedding_cosine's raw-double cosine-threshold
# compare (bit-identical sequential accumulation).
#
# Keep rule (deterministic, the paper keeps a random point per dup
# group): a vector is PRUNED iff some SAME-CELL vector with a SMALLER
# vec_id sits above the cosine threshold — so every cell's minimum id
# always survives, ties cannot flap, and the pairwise rule needs no
# iterative closure (unlike dedup_connected_components).
#
# Scale shape: assignment is the NARROW literal-centroid array_sort
# (zero shuffle, zero broadcast jobs, the sim_search_ivf_topk shape);
# the only corpus shuffles are the self-equi-join on cell (the
# bucketing SemDeDup exists to create) and the per-vector witness
# groupBy.

_SEMDEDUP_THRESH = 0.4  # same near-dup line as dedup_embedding_cosine

# ------------- scale-k-with-n cell index
#
# SemDeDup's pair term is Σ|cell|²: bounded ONLY when the cell count
# scales with the corpus (the paper's k≈110k on LAION); at a fixed
# k=10 label index the wall grew ×9.8–14.2 per 10× vectors. So the
# index has k = 10·m cells with
#
#   m = max(1, ceil(n / (10 · _SEMDEDUP_TARGET_OCC)))
#
# i.e. target mean occupancy _SEMDEDUP_TARGET_OCC per cell. At every
# gate SF (n ≤ 2000) m = 1 and the index IS the label-centroid
# artifact. Past that, each label's cell splits into m sub-cells by
# equal-width buckets of the vector's cosine to its OWN label
# centroid (read from the same cell literal the assignment scores
# against) — a LOCALITY-PRESERVING scalar
# (|cos(a,c) − cos(b,c)| is bounded by the a↔b angle, so near-dups
# share a bucket except at bucket boundaries, the loss any space
# partitioning pays), unlike a hash subdivision which would cut
# recall by 1/m. Sub-cell centroids are per-cell means rounded 6dp —
# the same engine-portable spelling as the base artifact — so the
# full scaled pipeline keeps its value-hash oracle: the oracle
# recomputes m, the buckets, and the centroids from the same integer
# and IEEE double arithmetic.
_SEMDEDUP_TARGET_OCC = 200
_SEMDEDUP_DIV = 10 * _SEMDEDUP_TARGET_OCC

# Hierarchical assignment (m > 1): nearest label (10) → nearest
# mid-group rep → nearest sub-cell within that group. A mid-group is
# g CONSECUTIVE cos-buckets of one label (the sub-cells are
# equal-width buckets of own_cos, so consecutive buckets are spatial
# neighbours and a group is a contiguous cos band); its
# representative is its MEDIAN member's sub-centroid — a selection,
# not new float arithmetic, so both engines pick byte-identical reps
# with no summation-order hazard. g = ceil(sqrt(m)) once m reaches
# _SEMDEDUP_L3_MIN_M, which makes the per-vector cost O(√m)·dim
# instead of (10 + m)·dim; below it g = m, so each label has ONE
# mid-group and the assignment is nearest label → nearest of that
# label's sub-cells. The oracle text carries the same general form
# (see _centroid_assign_cte).
_SEMDEDUP_L3_MIN_M = 100


def _semdedup_index(spark: SparkSession, sf_dir: str) -> dict:
    """The D4 tier's scaled centroid index {"m", "labels", "cells"}:
    the 10-row label level and the [[cell, cvec], ...] sub-cell table
    (cell = label·m + bucket), as ONE content-addressed artifact
    (artifacts.py) so the levels can never drift."""
    from nyc_traffic_insight_spark.artifacts import cached_json

    def _build() -> dict:
        e = _embs(spark, sf_dir)
        n = e.count()
        m = max(1, (n + _SEMDEDUP_DIV - 1) // _SEMDEDUP_DIV)
        base = [[int(c), list(vec)] for c, vec in _ivf_centroids(spark, sf_dir)]
        if m == 1:
            return {"m": m, "labels": base, "cells": base}
        own = F.element_at(
            F.filter(F.col("lcells"), lambda c: c["cell"] == F.col("label")), 1
        )
        emb = F.col("embedding")
        scored = e.withColumn("lcells", _cells_lit(base)).select(
            "label",
            "embedding",
            (_dot(emb, own["cvec"]) / (_norm(emb) * own["nrm"])).alias(
                "own_cos"
            ),
        )
        bounds = scored.groupBy("label").agg(
            F.min("own_cos").alias("mn"), F.max("own_cos").alias("mx")
        )
        bucket = (
            F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("bigint"))
            .otherwise(
                F.least(
                    F.lit(m - 1).cast("bigint"),
                    F.floor(
                        ((F.col("own_cos") - F.col("mn")) * F.lit(m))
                        / (F.col("mx") - F.col("mn"))
                    ).cast("bigint"),
                )
            )
        )
        sub = scored.join(F.broadcast(bounds), "label").select(
            (F.col("label") * F.lit(m) + bucket).alias("cell0"),
            "embedding",
        )
        comp = sub.select(
            "cell0", F.posexplode("embedding").alias("pos", "v")
        )
        cent = comp.groupBy("cell0", "pos").agg(
            _r(F.avg(F.col("v").cast("double")), 6).alias("c")
        )
        centroids = cent.groupBy("cell0").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda x: x["c"],
            ).alias("cvec")
        )
        cells = sorted(
            [int(row["cell0"]), list(row["cvec"])]
            for row in centroids.collect()
        )
        return {"m": m, "labels": base, "cells": cells}

    return cached_json(
        "semdedup_index",
        sf_dir,
        ["embeddings"],
        {"occ": _SEMDEDUP_TARGET_OCC},
        _build,
    )


def _assigned_frame(e: DataFrame, index, with_cos: bool) -> DataFrame:
    """One narrow assignment pass → (vec_id, embedding, __na, cell
    [, own_cos]). Built FRESH per call: higher-order-function lambda
    variables carry expression ids, and reusing one plan object on
    both sides of a self-join makes Catalyst's branch dedup lose the
    inner lambda refs at bind time
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on uncached inputs).

    `index` is either a flat [[cell, cvec], ...] list or the
    _semdedup_index dict. A flat list, or m = 1, scores every cell
    in-row. m > 1 runs the hierarchical label → mid → cell assignment
    (see _SEMDEDUP_L3_MIN_M); scoring the flat k = 10·m cells instead
    re-grows the very term the scaled index removes (5.1 s of each
    assignment pass in a 14.4 s dedup_semantic at 20k vectors).
    Tie-breaks are (cos DESC, id ASC) at every level — the oracle's
    window ORDER BYs.

    Every level is ONE from_json literal (textops._fold_idx_sql), not
    one F.lit per double: a py4j call per value cost 11–18 s of
    driver-side plan building per dedup_semantic call at m = 10, and a
    CAST-text tree costs O(k·dim) nodes per analyzer run. __na is an
    output column because the witness pair stage downstream reads it
    across the join boundary, where it is genuinely materialized."""
    best = F.element_at(_ranked_cells(F.col("cand")), 1)
    out = [
        F.col("vec_id"),
        F.col("embedding"),
        _norm(F.col("embedding")).alias("__na"),
        best["cell"].cast("int").alias("cell"),
    ]
    if with_cos:
        out.append((-best["negcos"]).alias("own_cos"))
    if not isinstance(index, dict) or index["m"] == 1:
        cells = index["cells"] if isinstance(index, dict) else index
        return e.withColumn("cand", _cells_lit(cells)).select(*out)

    # label → mid → sub-cells, as label- and mid-indexed ARRAY
    # literals, not maps: GetMapValue on a literal map of
    # array-of-struct values measured 6× slower per row than
    # GetArrayItem (the map scan compares/copies complex values, the
    # array index is a reference read). mid = (cell % m) // g over the
    # OCCUPIED cells; absent labels and buckets leave empty
    # placeholders, never selected because the label and mid picks
    # come from occupied entries only.
    m = index["m"]
    g = math.ceil(math.sqrt(m)) if m >= _SEMDEDUP_L3_MIN_M else m
    by_label: dict = {}
    for cell0, vec in index["cells"]:
        by_label.setdefault(cell0 // m, {}).setdefault(
            (cell0 % m) // g, []
        ).append((cell0, vec))
    max_lbl = max(by_label)
    if max_lbl > 10_000:
        raise ValueError(
            f"label space too large to array-index ({max_lbl}); "
            "re-introduce a position lookup before raising this cap"
        )
    reps, mids = [], []
    for lbl in range(max_lbl + 1):
        by_mid = by_label.get(lbl, {})
        grps = [by_mid.get(mid, []) for mid in range(max(by_mid, default=-1) + 1)]
        # the rep reuses the `cell` field for the mid id, so the
        # (negcos, cell) sort IS the oracle's (cos DESC, mid ASC) order
        reps.append(
            _cells_payload(
                [(mid, grp[len(grp) // 2][1]) for mid, grp in enumerate(grps) if grp]
            )
        )
        mids.append([_cells_payload(grp) for grp in grps])

    def _cand(lb):
        # lb is a lambda variable (opaque to CollapseProject), so the
        # label scoring runs ONCE per row even though the label picks
        # both the rep list and the cell table
        lbi = lb.cast("int") + 1
        mid = F.element_at(
            _ranked_cells(F.element_at(F.col("reps"), lbi)), 1
        )["cell"]
        return F.element_at(F.element_at(F.col("mids"), lbi), mid.cast("int") + 1)

    lbl = F.element_at(_ranked_cells(F.col("labels")), 1)["cell"]
    return (
        e.withColumn("labels", _cells_lit(index["labels"]))
        .withColumn("reps", F.expr(_fold_idx_sql(reps, f"ARRAY<{_CELLS_T}>")))
        .withColumn(
            "mids", F.expr(_fold_idx_sql(mids, f"ARRAY<ARRAY<{_CELLS_T}>>"))
        )
        .withColumn("cand", F.element_at(F.transform(F.array(lbl), _cand), 1))
        .select(*out)
    )


def semdedup_frame(
    e: DataFrame, cells: list, thresh: float, with_cos: bool = False
) -> DataFrame:
    """Core SemDeDup pass over a (vec_id, embedding) frame given the
    centroid index artifact [(cell, cvec), ...] (tested directly by
    the numpy differential fuzz in tests/test_semdedup.py). Output:
    (vec_id, cell, is_kept, dup_of) — one row per input vector,
    dup_of = min same-cell earlier id above thresh, -1 when kept.
    with_cos=True appends cos_raw, the vector's raw cosine to its own
    centroid (the prototypicality score) — carried through the
    groupBy as a key so the composed D4 pipeline can window over this
    frame directly instead of re-running the assignment; the default
    keeps dedup_semantic's shuffle rows 8 bytes narrower."""
    # Within-cell witness search: equi-join on cell (bucketed by
    # construction), keep earlier-id pairs above the threshold, take
    # the MINIMUM witness per pruned vector (deterministic dup_of).
    #
    # TWO assignment passes, not three: admitting the SELF-pair
    # (a <= b) guarantees every vector reaches the groupBy — its own
    # row carries (vec_id, cell) — so no third corpus-wide assignment
    # branch and vec_id join are needed to restore the kept vectors
    # (3 → 2 in-memory assignment scans, 9 → 6 exchanges). The witness
    # condition stays strict (a < b, cos > thresh) inside the
    # aggregate; the n extra self-pair cosine evaluations are noise
    # next to the Σ|cell|² pair term. The two sides must be DISTINCT
    # plan objects (the lambda bind-time caveat in _assigned_frame).
    a = _assigned_frame(e, cells, with_cos).alias("a")
    b = _assigned_frame(e, cells, with_cos).alias("b")
    keys = [
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.cell").alias("cell"),
    ]
    if with_cos:
        # constant per b-row, so grouping by it is free and keeps the
        # aggregate a pure pass-through for the score
        keys.append(F.col("b.own_cos").alias("cos_raw"))
    out = [
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("cell"),
        F.col("dup_of_raw").isNull().alias("is_kept"),
        F.coalesce(F.col("dup_of_raw"), F.lit(-1))
        .cast("bigint")
        .alias("dup_of"),
    ]
    if with_cos:
        out.append(F.col("cos_raw"))
    return (
        b.join(
            a,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") <= F.col("b.vec_id")),
        )
        .groupBy(*keys)
        .agg(
            F.min(
                F.when(
                    (F.col("a.vec_id") < F.col("b.vec_id"))
                    & (
                        # pair cosine from the carried __na norms —
                        # dot / (na·nb), the exact _norm_dot grouping,
                        # so the double (and the oracle hash) is
                        # unchanged while each pair pays one dot
                        # product instead of a dot and two norms
                        _dot(F.col("a.embedding"), F.col("b.embedding"))
                        / (F.col("a.__na") * F.col("b.__na"))
                        > F.lit(float(thresh))
                    ),
                    F.col("a.vec_id"),
                )
            ).alias("dup_of_raw")
        )
        .select(*out)
    )


def _centroid_assign_cte(table: str) -> str:
    """The shared centroid-build + nearest-cell assignment WITH-chain
    every oracle in this module opens with (ONE text, three oracles —
    the shared-fragment doctrine). `assign` carries vec_id, cell, the
    raw embedding (for pair cosines) and cos_raw, the vector's cosine
    to its OWN centroid (the prototypicality score — unchanged by any
    downstream filtering, since the centroids are a fixed artifact).

    Recomputes the scale-k index (_semdedup_index) — m from the same
    integer formula, buckets from the same IEEE expression
    (((own_cos − mn) · m) / (mx − mn), floored, least-capped), sub-cell
    centroids from the same round(avg, 6) — and assigns exactly like
    the Spark side (_assigned_frame): nearest label centroid (lrn
    window), nearest mid-group rep of that label (mrn window), then
    nearest sub-centroid of that group (rn window). A mid-group is g
    consecutive cos-buckets with g = ceil(sqrt(m)) once
    m >= _SEMDEDUP_L3_MIN_M, else g = m (ONE mid-group per label);
    its rep is its median member's sub-centroid (rn = cnt//2+1 ordered
    by cell — a SELECTION, no new float arithmetic, so both engines
    agree bit-for-bit), mirroring _assigned_frame's
    grp[len(grp) // 2] exactly. At every gate SF m = 1, every bucket
    is 0, each label has one sub-cell, and the chain's VALUES are the
    single-window label-mean assignment's (the text itself carries the
    general form)."""
    return f"""
    WITH mval AS (
      SELECT GREATEST(1, (count(*) + {_SEMDEDUP_DIV - 1}) // {_SEMDEDUP_DIV})
               AS m
      FROM {table}
    ),
    lcomp AS (
      SELECT vec_id, label, i + 1 AS pos,
             CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM {table}, (SELECT unnest(range(0, {_DIM})) AS i)
    ),
    lcent AS (
      SELECT label, pos, round(avg(v), 6) AS c
      FROM lcomp GROUP BY 1, 2
    ),
    lcentroids AS (
      SELECT label AS cell, list(c ORDER BY pos) AS cvec
      FROM lcent GROUP BY label
    ),
    owncos AS (
      SELECT e.vec_id, e.label, e.embedding,
             list_cosine_similarity(e.embedding::DOUBLE[], lc.cvec)
               AS own_cos
      FROM {table} e JOIN lcentroids lc ON lc.cell = e.label
    ),
    bnds AS (
      SELECT label, min(own_cos) AS mn, max(own_cos) AS mx
      FROM owncos GROUP BY 1
    ),
    subbed AS (
      SELECT o.vec_id, o.embedding,
             o.label * m + CASE WHEN b.mx = b.mn THEN 0
               ELSE LEAST(m - 1,
                          CAST(floor(((o.own_cos - b.mn) * m)
                                     / (b.mx - b.mn)) AS BIGINT))
             END AS cell0
      FROM owncos o JOIN bnds b USING (label), mval
    ),
    comp AS (
      SELECT cell0, i + 1 AS pos, CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM subbed, (SELECT unnest(range(0, {_DIM})) AS i)
    ),
    cent AS (
      SELECT cell0, pos, round(avg(v), 6) AS c
      FROM comp GROUP BY 1, 2
    ),
    centroids AS (
      SELECT cell0 AS cell, list(c ORDER BY pos) AS cvec
      FROM cent GROUP BY cell0
    ),
    gval AS (
      SELECT m, CASE WHEN m >= {_SEMDEDUP_L3_MIN_M}
                     THEN CAST(ceil(sqrt(m)) AS BIGINT)
                     ELSE m END AS g
      FROM mval
    ),
    mids AS (
      SELECT lbl, mid, cvec AS rvec FROM (
        SELECT (c.cell // m) AS lbl, ((c.cell % m) // g) AS mid, c.cvec,
               row_number() OVER (
                 PARTITION BY (c.cell // m), ((c.cell % m) // g)
                 ORDER BY c.cell) AS rn,
               count(*) OVER (
                 PARTITION BY (c.cell // m), ((c.cell % m) // g)) AS cnt
        FROM centroids c CROSS JOIN gval
      ) WHERE rn = cnt // 2 + 1
    ),
    l1 AS (
      SELECT vec_id, embedding, lbl FROM (
        SELECT e.vec_id, e.embedding, lc.cell AS lbl,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                                 lc.cvec) DESC, lc.cell)
                 AS lrn
        FROM {table} e, lcentroids lc
      ) WHERE lrn = 1
    ),
    l2 AS (
      SELECT vec_id, embedding, lbl, mid FROM (
        SELECT s.vec_id, s.embedding, s.lbl, r.mid,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY list_cosine_similarity(s.embedding::DOUBLE[],
                                                 r.rvec) DESC, r.mid)
                 AS mrn
        FROM l1 s JOIN mids r ON r.lbl = s.lbl
      ) WHERE mrn = 1
    ),
    assign AS (
      SELECT vec_id, cell, embedding, cos_raw FROM (
        SELECT s.vec_id, c.cell, s.embedding,
               list_cosine_similarity(s.embedding::DOUBLE[], c.cvec)
                 AS cos_raw,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY list_cosine_similarity(s.embedding::DOUBLE[], c.cvec)
                          DESC, c.cell) AS rn
        FROM l2 s CROSS JOIN gval
        JOIN centroids c ON (c.cell // m) = s.lbl
                        AND ((c.cell % m) // g) = s.mid
      ) WHERE rn = 1
    )"""


def _semdedup_wit_cte(thresh: float) -> str:
    """The within-cell earlier-id witness search over `assign`."""
    return f"""
    wit AS (
      SELECT b.vec_id, min(a.vec_id) AS dup_of_raw
      FROM assign b JOIN assign a
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]) > {thresh}
      GROUP BY b.vec_id
    )"""


def dedup_semantic_oracle_sql(
    table: str = "embeddings", thresh: float = _SEMDEDUP_THRESH
) -> str:
    """dedup_semantic as one DuckDB text — the shared centroid/assign
    chain plus the within-cell witness join."""
    return (
        _centroid_assign_cte(table)
        + ","
        + _semdedup_wit_cte(thresh)
        + """
    SELECT CAST(s.vec_id AS BIGINT) AS vec_id,
           CAST(s.cell AS INTEGER) AS cell,
           (w.vec_id IS NULL) AS is_kept,
           CAST(coalesce(w.dup_of_raw, -1) AS BIGINT) AS dup_of
    FROM assign s LEFT JOIN wit w ON s.vec_id = w.vec_id
    """
    )


@register(
    "dedup_semantic",
    survey="north-star embedding tier: SemDeDup (Abbas et al. 2023) — "
    "semantic near-duplicate pruning WITHIN centroid cells only, the "
    "production-scale shape modern pretraining pipelines run instead "
    "of dedup_embedding_cosine's all-pairs baseline; pair cost "
    "Σ|cell|², bounded when k scales with the corpus (the paper's "
    "~110k clusters on LAION); deterministic min-vec_id keep rule",
    oracle=dedup_semantic_oracle_sql(),
)
def dedup_semantic(
    spark: SparkSession, sf_dir: str, thresh: float = _SEMDEDUP_THRESH
) -> DataFrame:
    """SemDeDup over the embeddings table: cluster by the label-derived
    centroid artifact, prune within-cluster cosine near-duplicates,
    keep the minimum vec_id. Output: (vec_id, cell, is_kept, dup_of)."""
    return semdedup_frame(
        _embs(spark, sf_dir), _semdedup_index(spark, sf_dir), thresh
    )


# ------------------- SSL-prototype filter
#
# D4 (Tirumala et al. 2023, "D4: Improving LLM Pretraining via
# Document De-Duplication and Diversification") runs TWO embedding
# passes over the clustered corpus: SemDeDup (above) prunes
# near-duplicate points, then "SSL Prototypes" (Sorscher et al. 2022)
# prunes the points CLOSEST to their cluster centroid — the most
# prototypical, least informative examples. This is that second pass,
# on the same deterministic centroid artifact, so it also gets a FULL
# value-hash oracle. Per-cell prune count is the floor-form tenth
# floor(n_cell / 10.0) — floor, not ceil, so singleton cells keep
# their vector; the count arithmetic is spelled identically in both
# engines (the engine-portable floor(x/10.0) idiom).
#
# Scale shape: one narrow assignment pass (literal centroids, zero
# shuffle), one groupBy(cell) for sizes (k-bounded result, broadcast
# back), one window partitioned by cell — no pair join at all, so this
# is strictly cheaper than the SemDeDup pass it follows.

_PROTO_TENTH = 10.0  # prune floor(n_cell / 10) most-prototypical


def proto_filter_frame(e: DataFrame, cells: list) -> DataFrame:
    """Core prototype-filter pass over a (vec_id, embedding) frame
    given the centroid artifact [(cell, cvec), ...] (or the
    _semdedup_index dict — the same assignment as the SemDeDup
    pass, see _assigned_frame). Output:
    (vec_id, cell, proto_cos, proto_rank, is_kept) — rank 1 is the
    cell's most prototypical vector (ties by vec_id), and ranks
    1..floor(n_cell/10) are pruned."""
    from pyspark.sql import Window

    assign = _assigned_frame(e, cells, with_cos=True).select(
        "vec_id", "cell", F.col("own_cos").alias("cos_raw")
    )
    sizes = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("n_cell"))
    w = Window.partitionBy("cell").orderBy(F.desc("cos_raw"), F.col("vec_id"))
    return (
        assign.withColumn("proto_rank", F.row_number().over(w))
        .join(F.broadcast(sizes), "cell")
        .select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            "cell",
            _r("cos_raw", 4).alias("proto_cos"),
            F.col("proto_rank").cast("int").alias("proto_rank"),
            (
                F.col("proto_rank")
                > F.floor(F.col("n_cell") / F.lit(_PROTO_TENTH)).cast("long")
            ).alias("is_kept"),
        )
    )


def emb_prototypes_oracle_sql(table: str = "embeddings") -> str:
    """emb_prototypes_filter as one DuckDB text — the shared centroid
    chain plus the per-cell prototypicality window."""
    return (
        _centroid_assign_cte(table)
        + f""",
    sized AS (SELECT cell, count(*) AS n_cell FROM assign GROUP BY 1),
    ranked AS (
      SELECT vec_id, cell, cos_raw,
             row_number() OVER (
               PARTITION BY cell ORDER BY cos_raw DESC, vec_id)
               AS proto_rank
      FROM assign
    )
    SELECT CAST(r.vec_id AS BIGINT) AS vec_id,
           CAST(r.cell AS INTEGER) AS cell,
           round(r.cos_raw, 4) AS proto_cos,
           CAST(r.proto_rank AS INTEGER) AS proto_rank,
           (r.proto_rank >
              CAST(floor(s.n_cell / {_PROTO_TENTH}) AS BIGINT)) AS is_kept
    FROM ranked r JOIN sized s ON r.cell = s.cell
    """
    )


@register(
    "emb_prototypes_filter",
    survey="north-star embedding tier: SSL-prototype pruning (Sorscher "
    "et al. 2022; D4's second stage) — drop the floor(10%) of vectors "
    "closest to their own centroid, the most prototypical / least "
    "informative examples; window-only shape (no pair term at all), "
    "strictly cheaper than the SemDeDup pass it follows",
    oracle=emb_prototypes_oracle_sql(),
)
def emb_prototypes_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototype pruning over the embeddings table: within each
    centroid cell, drop the floor(10%) of vectors closest to the
    centroid. Output:
    (vec_id, cell, proto_cos, proto_rank, is_kept)."""
    return proto_filter_frame(
        _embs(spark, sf_dir), _semdedup_index(spark, sf_dir)
    )


# ------------- composed D4 pipeline
#
# The operator a user actually runs: SemDeDup prune, THEN the
# SSL-prototype prune on the SURVIVORS — D4's two stages composed
# end-to-end (the paper applies them in exactly this order; the
# prototype pass's per-cell counts and ranks are over the deduped
# set, so the composition is NOT the intersection of the two
# standalone filters). One row per ORIGINAL vector with per-stage
# verdicts, so downstream auditing can attribute every drop.
#
# The prototypicality score (cos to own centroid) is computed once in
# the shared assignment — filtering survivors cannot change it because
# the centroid artifact is fixed — so the composed oracle is the same
# shared CTE chain with the witness CTE and the window re-scoped to
# survivors. Scale shape: the union of the two stages' shapes, nothing
# new (one pair equi-join on cell + one window on cell).


def d4_oracle_sql(
    table: str = "embeddings", thresh: float = _SEMDEDUP_THRESH
) -> str:
    """pipeline_d4_curation as one DuckDB text — the shared chain, the
    witness CTE, then the prototype window re-scoped to survivors."""
    return (
        _centroid_assign_cte(table)
        + ","
        + _semdedup_wit_cte(thresh)
        + f""",
    sd AS (
      SELECT a.vec_id, a.cell, a.cos_raw,
             (w.vec_id IS NULL) AS semdedup_kept
      FROM assign a LEFT JOIN wit w ON a.vec_id = w.vec_id
    ),
    surv AS (SELECT * FROM sd WHERE semdedup_kept),
    sized AS (SELECT cell, count(*) AS n_cell FROM surv GROUP BY 1),
    ranked AS (
      SELECT vec_id, cell,
             row_number() OVER (
               PARTITION BY cell ORDER BY cos_raw DESC, vec_id)
               AS proto_rank
      FROM surv
    )
    SELECT CAST(s.vec_id AS BIGINT) AS vec_id,
           CAST(s.cell AS INTEGER) AS cell,
           s.semdedup_kept,
           CAST(coalesce(r.proto_rank, -1) AS INTEGER) AS proto_rank,
           coalesce(r.proto_rank >
                      CAST(floor(z.n_cell / {_PROTO_TENTH}) AS BIGINT),
                    FALSE) AS is_kept
    FROM sd s
    LEFT JOIN ranked r ON s.vec_id = r.vec_id
    LEFT JOIN sized z ON r.cell = z.cell
    """
    )



@register(
    "pipeline_d4_curation",
    survey="north-star embedding tier: the composed D4 pipeline "
    "(Tirumala et al. 2023) — SemDeDup prune, then the SSL-prototype "
    "prune RE-SCOPED to the survivors (per-cell counts and ranks over "
    "the deduped set, not an intersection of standalone filters); one "
    "row per original vector with per-stage verdicts so every drop is "
    "attributable; scale shape is the union of the two stages' shapes",
    oracle=d4_oracle_sql(),
)
def pipeline_d4_curation(
    spark: SparkSession, sf_dir: str, thresh: float = _SEMDEDUP_THRESH
) -> DataFrame:
    """D4 end-to-end over the embeddings table. Output one row per
    input vector: (vec_id, cell, semdedup_kept, proto_rank, is_kept) —
    proto_rank is the rank AMONG SURVIVORS (-1 for semdedup-pruned
    vectors), is_kept = survived both stages.

    FUSED: the SemDeDup frame carries the prototypicality score
    through its groupBy (with_cos=True — the centroids are a fixed
    artifact, so filtering cannot change the score), and the survivor
    ranks come from ONE window over that frame: ordering by
    (is_kept DESC, cos_raw DESC, vec_id) puts the survivors first in
    every cell, so their row_numbers 1..n_surv ARE the survivor-scoped
    prototype ranks, and the survivor count is a windowed conditional
    sum. The composed pipeline is exactly the SemDeDup shape plus one
    window; a third assignment pass over the re-joined raw table plus
    two vec_id joins read 8 in-memory assignment scans and 29
    exchanges against this shape's 2 and 7."""
    from pyspark.sql import Window

    sd = semdedup_frame(
        _embs(spark, sf_dir),
        _semdedup_index(spark, sf_dir),
        thresh,
        with_cos=True,
    )
    w = Window.partitionBy("cell").orderBy(
        F.desc("is_kept"), F.desc("cos_raw"), F.col("vec_id")
    )
    wc = Window.partitionBy("cell")
    rn = F.row_number().over(w)
    n_surv = F.sum(F.col("is_kept").cast("long")).over(wc)
    pr = F.when(F.col("is_kept"), rn).otherwise(F.lit(-1))
    return sd.select(
        "vec_id",
        "cell",
        F.col("is_kept").alias("semdedup_kept"),
        pr.cast("int").alias("proto_rank"),
        (
            F.col("is_kept")
            & (rn > F.floor(n_surv / F.lit(_PROTO_TENTH)).cast("long"))
        ).alias("is_kept"),
    )
