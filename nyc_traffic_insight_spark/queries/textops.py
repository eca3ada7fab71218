"""Catalog: large-scale training-data operators over documents/embeddings.

North-star extensions beyond the reference surface (BASELINE.json): the
operations an LLM-data pipeline needs at 100 TB — deduplication (exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine), similarity
search (brute-force + LSH-bucketed ANN), and text analysis (language ID,
quality scoring, token counting, fingerprinting).

Everything is built from deterministic primitives both engines share —
md5() for hashing (bit-identical across Spark and DuckDB), integer
ratios for similarities (exact IEEE754 division → hash-stable without
rounding) — so even the sketch-based operators get full value-hash
oracles instead of rows-only checks.

Scale design notes per operator are in the docstrings; the common theme:
shingle/token explosion happens AFTER per-doc dedup (distinct shingles),
joins are on hash keys (uniformly distributed → no skew), and pairwise
verification only ever runs on LSH candidates, never all O(n²) pairs
(the brute-force variants exist as correctness baselines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from nyc_traffic_insight_spark.artifacts import cached_json
from nyc_traffic_insight_spark.queries import REGISTRY, register
from nyc_traffic_insight_spark.session import materialize, session_cached
from nyc_traffic_insight_spark.sources import load_table
from nyc_traffic_insight_spark.functions.rounding import r as _r

# ----------------------------------------------------------------- shared

# Distinct 3-word shingles per document (word-level n-grams).
_SHINGLES_SQL = """
    WITH __words AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents
    ),
    __idx AS (
      SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
      FROM __words
    ),
    shingles AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM __idx
    )
"""

# Exact-Jaccard pair generation over `shingles`, split into the pair
# CTEs and the thresholded select (r12 extraction, byte-identical to
# the text previously inlined in dedup_ngram_jaccard's oracle).
# Shared by dedup_ngram_jaccard and qa_lsh_recall_audit's truth leg —
# one text, so the audit's definition of "true pair" cannot drift
# from the baseline operator it measures against.
_NGRAM_PAIRS_SQL = """,
    cnt AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS c
      FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""

_NGRAM_JACCARD_SELECT = """
    SELECT doc1, doc2,
           CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
    FROM common
    JOIN cnt ca ON ca.doc_id = doc1
    JOIN cnt cb ON cb.doc_id = doc2
    WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5
    """


# shared with sources.catalog since round 6 (load_table_wide uses the
# same footer gate without this module's persist cache)
from nyc_traffic_insight_spark.sources.catalog import (  # noqa: E402
    parquet_row_groups as _parquet_row_groups,
)


# One persisted, widened DataFrame per (application, sf_dir, table) for
# the two tables every text/embedding operator starts from.  Round 3's
# unconditional repartition(defaultParallelism) here made every one of
# the ~30 consumers pay a full round-robin exchange of the table before
# doing any work — a user-specified partition COUNT is not
# AQE-coalescable, so at 100 TB that is a full-corpus shuffle per query
# (VERDICT r3 "What's wrong" #2).  Now the exchange (a) only happens when
# the parquet footer says the scan genuinely cannot parallelize (row
# groups < cores — the single-row-group local fixture), and (b) happens
# ONCE per session, with the widened result persisted and shared
# through the session registry.  On a real cluster the row-group count
# dwarfs the core count and this is a plain pass-through scan.
def _wide_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` + conditional one-time widening (see above)."""
    df = load_table(spark, sf_dir, name)
    para = spark.sparkContext.defaultParallelism
    rg = _parquet_row_groups(sf_dir, name)
    if rg is None or rg >= para:
        # cluster shape: the scan itself is (at least potentially) as
        # wide as the session — no exchange, no cache.
        return df
    return session_cached(
        spark,
        ("wide", sf_dir, name),
        lambda: df.repartition(para).persist(StorageLevel.MEMORY_AND_DISK),
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table, widened to the session's core count when the
    scan under-parallelizes. The local test parquet is one row group →
    Spark plans a single scan partition, which would run all the
    CPU-heavy per-row work (regex splits, hashing) on 1 of 32 cores. On
    a real cluster the footer check sees many row groups and this is a
    plain scan."""
    return _wide_table(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table, widened like _docs — the 64-dim dot
    products run in interpreted higher-order functions, so scan
    parallelism directly bounds throughput."""
    return _wide_table(spark, sf_dir, "embeddings")


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-word shingles per doc as an ARRAY column — a fully
    narrow map (split → transform → array_distinct), zero shuffles.
    Docs too short for a shingle get an empty array (callers filter).

    This is the 100 TB-friendly form: the shingle set never leaves the
    row it came from, so signature/verify steps derive from it without
    the explode→DISTINCT shuffle of the naive formulation."""
    docs = _docs(spark, sf_dir)
    w = F.split(F.lower("text"), r"\s+")
    # Build the trigrams with slice + zip_with, NOT transform(sequence, i
    # -> element_at(w, i)): higher-order lambdas run interpreted, and an
    # outer-expression reference inside the lambda (w) is re-evaluated
    # per element — the naive form re-splits the text once per shingle,
    # O(tokens²)/doc. Here each lambda touches only its own arguments,
    # so the split is evaluated a constant number of times per row.
    n = F.greatest(F.size(w) - 2, F.lit(0))
    sh = F.zip_with(
        F.zip_with(
            F.slice(w, 1, n), F.slice(w, 2, n), lambda a, b: F.concat(a, F.lit(" "), b)
        ),
        F.slice(w, 3, n),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    return docs.select("doc_id", F.array_distinct(sh).alias("sh"))


# One persisted shingle-set DataFrame per (application, sf_dir).  The
# LSH pipeline consumes it three times per build, connected-components
# builds LSH again, and bench runs each builder 4× (warmup + 3 reps) —
# without the registry every invocation persisted a fresh lineage whose
# disk blocks are only freed by driver-GC-triggered ContextCleaner
# (ADVICE r2 #2).
def _shingle_sets_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-empty per-doc shingle sets, persisted MEMORY_AND_DISK once per
    (app, sf_dir) and shared by every consumer in the session.

    MEMORY_AND_DISK because shingle arrays are ~the size of the text
    itself — a memory-only cache would recompute-on-evict exactly where
    it hurts. On a cluster the equivalent is checkpointing the shingle
    table to parquet between phases."""
    return session_cached(
        spark,
        ("shingles", sf_dir),
        lambda: _shingle_sets(spark, sf_dir)
        .filter(F.size("sh") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK),
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, shingle) rows — the relational view used by the
    brute-force Jaccard baseline."""
    return _shingle_sets(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("s")
    )


# ------------------------------------------------------------------ dedup

@register(
    "dedup_exact",
    survey="north-star: exact dedup via hash-groupBy",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on a content hash, keep the smallest id.
    Hashing first means the shuffle key is 32 bytes regardless of doc
    size — at 100 TB you shuffle hashes, not documents."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_ngram_jaccard",
    survey="north-star: n-gram Jaccard near-dup (brute-force baseline)",
    oracle=_SHINGLES_SQL + _NGRAM_PAIRS_SQL + _NGRAM_JACCARD_SELECT,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over distinct 3-word shingles, pairs ≥ 0.5.

    The pair generation is a self-join ON SHINGLE (only docs sharing a
    shingle meet) — never a cross join. Jaccard = c/(n1+n2-c) is a ratio
    of integers → bit-identical across engines, no rounding needed.
    This is the correctness baseline; dedup_minhash_lsh is the scale
    path (candidates from banding instead of the full shingle join).
    """
    return _ngram_jaccard_pairs(_shingles(spark, sf_dir))


def _ngram_jaccard_pairs(sh: DataFrame) -> DataFrame:
    """The exact-Jaccard pair machine over exploded (doc_id, s) rows —
    the DataFrame twin of _NGRAM_PAIRS_SQL/_NGRAM_JACCARD_SELECT.
    Shared by dedup_ngram_jaccard (unpersisted _shingles) and
    qa_lsh_recall_audit's truth leg (which feeds it the explode of the
    ALREADY-persisted shingle sets its candidate leg materialized, so
    the audit costs one shingle pipeline, not two)."""
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    jac = (
        common.join(ca, F.col("doc1") == F.col("ca.doc_id"))
        .join(cb, F.col("doc2") == F.col("cb.doc_id"))
        .select(
            "doc1",
            "doc2",
            (
                F.col("c").cast("double")
                / (F.col("ca.n") + F.col("cb.n") - F.col("c"))
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= 0.5)


_N_HASHES = 8
# LSH banding geometry — THE one place to change it (r14; VERDICT r13
# "Next round" #6). b bands of r minhashes each; b·r must equal
# _N_HASHES. (4, 2) is the production default at this testdata's
# entropy; SCALE.md's decade probe measured candidate volume ∝ n²·j̄²
# at r=2 on low-entropy corpora and names r=4 — geometry (2, 4) — as
# the 100 TB lever. Flip the pair here and every LSH entry follows:
# the Spark candidate stage (_lsh_candidate_pairs) and the shared
# oracle fragment (_LSH_CANDS_SQL) both derive from these constants,
# as do the oracles that compose the fragment (dedup_minhash_lsh,
# qa_lsh_recall_audit, dedup_connected_components,
# dedup_canonical_select, dedup_edit_distance, the decontamination
# filter). qa_lsh_banding_sweep / qa_lsh_recall_audit are the
# instruments that SELECT the value — the sweep emits
# recall/candidate-precision per geometry over shared signatures.
_LSH_B = 4
_LSH_R = 2
assert _LSH_B * _LSH_R == _N_HASHES, "banding must tile the signature"
_H_MOD = 1 << 30  # minhash value space


def _hashed_shingles(sh: DataFrame) -> DataFrame:
    """(doc_id, h1, h2) per (doc, shingle): ONE md5 per shingle, split
    into two 30-bit halves for Kirsch-Mitzenmacher double hashing
    (h_k = (h1 + k·h2) mod 2³⁰). The k hash functions cost integer
    arithmetic, not k md5 invocations, and the projection is regular
    codegen (subexpression-eliminated), not an interpreted HOF lambda.
    md5 is bit-identical in Spark and DuckDB → oracle-checkable."""
    h64 = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint")
    return sh.select(
        "doc_id",
        F.shiftright(h64, 30).alias("h1"),
        h64.bitwiseAND(F.lit(_H_MOD - 1)).bitwiseOR(F.lit(1)).alias("h2"),
    )


def _sig_from_shingles(sh: DataFrame) -> DataFrame:
    """MinHash signature via groupBy(doc_id) over hashed shingles — the
    partial (map-side) aggregation collapses each partition to one row
    per doc before the shuffle, so the exchange carries signatures, not
    shingles."""
    hs = _hashed_shingles(sh)
    return hs.groupBy("doc_id").agg(
        *[
            F.min((F.col("h1") + k * F.col("h2")) % _H_MOD).alias(f"h{k}")
            for k in range(_N_HASHES)
        ]
    )


def _minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sig_from_shingles(_shingles(spark, sf_dir))


_H64_SQL = "('0x' || substr(md5(s), 1, 15))::BIGINT"
_SIG_SQL = (
    _SHINGLES_SQL
    + f""",
    hashed AS (
      SELECT doc_id,
             ({_H64_SQL} >> 30) AS h1,
             (({_H64_SQL} & {_H_MOD - 1}) | 1) AS h2
      FROM shingles
    ),
    sig AS (
      SELECT doc_id,
    """
    + ",\n".join(
        f"        min((h1 + {k} * h2) % {_H_MOD}) AS h{k}"
        for k in range(_N_HASHES)
    )
    + """
      FROM hashed GROUP BY doc_id
    )
"""
)

def _lsh_cands_geom_sql(name: str, b: int, r: int) -> str:
    """The (b, r) banding candidates as a DuckDB CTE — one generator
    for every geometry, including the default fragment below (moved
    above its first consumer in r14 when _LSH_CANDS_SQL became
    derived; previously lived beside the sweep)."""
    unions = "\n        UNION\n".join(
        "        SELECT a.doc_id AS doc1, b.doc_id AS doc2 FROM sig a "
        "JOIN sig b\n          ON "
        + " AND ".join(
            f"a.h{band * r + j} = b.h{band * r + j}" for j in range(r)
        )
        + " AND a.doc_id < b.doc_id"
        for band in range(b)
    )
    return f""",
    {name} AS (
      SELECT DISTINCT doc1, doc2 FROM (
{unions}
      )
    )"""


# LSH banding candidates as a shared fragment (r12 extraction; r14:
# now GENERATED from the (_LSH_B, _LSH_R) constants): 8 minhashes →
# b bands of r, a pair is a candidate iff it collides in ANY band.
# Shared by every oracle that composes a candidate stage —
# dedup_minhash_lsh, qa_lsh_recall_audit, dedup_connected_components,
# dedup_canonical_select (via the components slice),
# dedup_edit_distance, text_decontaminate_fuzzy — so the texts cannot
# drift and the geometry has one spelling.
_LSH_CANDS_SQL = _lsh_cands_geom_sql("candidates", _LSH_B, _LSH_R)

# Exact-Jaccard verify over `candidates`, split into the verify CTEs
# and the thresholded select (r12 extraction, byte-identical to the
# text previously inlined in dedup_minhash_lsh's oracle). Shared by
# dedup_minhash_lsh and text_decontaminate_fuzzy — one verify text.
_LSH_VERIFY_SQL = """,
    cnt AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
    verified AS (
      SELECT c.doc1, c.doc2, count(*) AS common
      FROM candidates c
      JOIN shingles sa ON sa.doc_id = c.doc1
      JOIN shingles sb ON sb.doc_id = c.doc2 AND sb.s = sa.s
      GROUP BY 1, 2
    )"""

_LSH_JACCARD_SELECT = """
    SELECT v.doc1, v.doc2,
           CAST(v.common AS DOUBLE) / (ca.n + cb.n - v.common) AS jaccard
    FROM verified v
    JOIN cnt ca ON ca.doc_id = v.doc1
    JOIN cnt cb ON cb.doc_id = v.doc2
    WHERE CAST(v.common AS DOUBLE) / (ca.n + cb.n - v.common) >= 0.5
    """


@register(
    "dedup_minhash_sig",
    survey="north-star: MinHash signatures (shingle→minhash)",
    oracle=_SIG_SQL + "SELECT * FROM sig",
)
def dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_sig(spark, sf_dir)


# One persisted minhash-signature DataFrame per (application,
# input-plan semantic hash).  The r15 candidate stage is a band
# SELF-join, and self-joins defeat exchange reuse (NOTES r1:
# DeduplicateRelations re-ids the plan) — without the persist each
# branch would run the explode + 8-way-min signature aggregation
# independently.  Keyed by the INPUT frame's canonicalized-plan hash,
# not sf_dir, because the helper takes an arbitrary shingle-set frame.
def _lsh_sig_persisted(ds: DataFrame) -> DataFrame:
    """Minhash signature table for a shingle-set frame, persisted once
    per (app, input plan) — narrow (doc_id + 8 ints), so the persist
    is cheap; on a cluster the equivalent is checkpointing the
    signature table to parquet between phases."""
    return session_cached(
        ds.sparkSession,
        ("lsh_sig", ds._jdf.queryExecution().analyzed().semanticHash()),
        lambda: _sig_from_shingles(
            ds.select("doc_id", F.explode("sh").alias("s"))
        ).persist(StorageLevel.MEMORY_AND_DISK),
    )


def _lsh_candidate_pairs(
    ds: DataFrame, b: int | None = None, r: int | None = None
) -> DataFrame:
    """LSH candidate pairs (doc1 < doc2) from per-doc shingle sets.

    Unpivots the minhash signature into b bands of r hashes (defaults:
    the module (_LSH_B, _LSH_R) geometry), then candidates come from a
    DISTRIBUTED self equi-join on (band, k0..k{r-1}) — the
    mm_dedup_phash pattern (multimodalq.py), ported here per VERDICT
    r14 #2. The previous groupBy + collect_list + in-array expansion
    put a true dup cluster of size m into ONE task's array and
    expanded m² pairs THERE — a single-task OOM at a dup-heavy 100 TB
    corpus, and structurally invisible to AQE (skew-split does not
    apply to an aggregate). The join form shuffles both sides on the
    band keys, so a hot bucket is an ordinary skewed join partition:
    AQE splits it by mapper ranges and the m² pairs stream through
    many tasks instead of materializing in one array. The signature
    table is persisted (see _lsh_sig_persisted) so the self-join's two
    branches share one materialization. Shared by dedup_minhash_lsh
    (Jaccard verify), dedup_edit_distance (Levenshtein verify),
    dedup_connected_components / dedup_canonical_select (components),
    text_decontaminate_fuzzy and qa_lsh_recall_audit."""
    b = _LSH_B if b is None else b
    r = _LSH_R if r is None else r
    key_cols = [f"k{j}" for j in range(r)]
    sig = _lsh_sig_persisted(ds)
    bands_long = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        *[
                            F.col(f"h{band * r + j}").alias(f"k{j}")
                            for j in range(r)
                        ],
                    )
                    for band in range(b)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", *[f"bb.{k}" for k in key_cols])
    left = bands_long.select(
        "band", *key_cols, F.col("doc_id").alias("doc1")
    )
    right = bands_long.select(
        "band", *key_cols, F.col("doc_id").alias("doc2")
    )
    return (
        left.join(right, on=["band", *key_cols])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


@register(
    "dedup_minhash_lsh",
    survey="north-star: MinHash+LSH near-dup (band→bucket-join→verify)",
    oracle=_SIG_SQL + _LSH_CANDS_SQL + _LSH_VERIFY_SQL + _LSH_JACCARD_SELECT,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: 8 minhashes → 4 bands of 2 → docs sharing
    any band bucket are candidates → exact-Jaccard verify ≥ 0.5.

    This is the 100 TB dedup path: candidate generation joins on band
    buckets (equi-join on md5 keys, uniform), and the expensive exact
    verify touches only candidate pairs. With r=2, b=4 the candidate
    probability is 1-(1-j²)⁴ — ~0.99 for j=0.8, ~0.2 for j=0.25.
    """
    # The per-doc shingle sets feed three consumers (signature,
    # candidate verify ×2); persist so the regex-split/shingle pipeline
    # runs once instead of three times. Shared via a per-(app, sf_dir)
    # cache so repeated invocations reuse one persisted lineage instead
    # of accumulating blocks per call (ADVICE r2 #2).
    ds = _shingle_sets_persisted(spark, sf_dir)
    return _lsh_verified_pairs(ds, _lsh_candidate_pairs(ds))


def _lsh_verified_pairs(ds: DataFrame, cands: DataFrame) -> DataFrame:
    """Exact-Jaccard verify over candidate pairs — the DataFrame twin
    of _LSH_VERIFY_SQL/_LSH_JACCARD_SELECT, shared by dedup_minhash_lsh
    and text_decontaminate_fuzzy's train×eval filter.

    Joins each side to its per-doc shingle ARRAY (one row per doc, not
    one per shingle) and intersects JVM-side: two equi-joins on doc_id
    + a narrow array_intersect — no exploded-shingle re-join, no
    per-pair groupBy."""
    sa = ds.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    sb = ds.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    common = F.size(F.array_intersect("sh1", "sh2"))
    jac = common.cast("double") / (
        F.size("sh1") + F.size("sh2") - common
    )
    return (
        cands.join(sa, "doc1")
        .join(sb, "doc2")
        .select("doc1", "doc2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


# ------------- LSH recall audit (round-12 preview)
#
# The QA number a dedup team reads before trusting the b/r banding
# parameters: of the TRUE near-dup pairs (exact shingle-Jaccard ≥ 0.5
# — dedup_ngram_jaccard's output, exhaustive at this threshold
# because any pair with jaccard > 0 shares a shingle), what fraction
# does the LSH candidate stage surface (recall), and what fraction of
# the candidate pairs survive the verify (candidate precision — the
# measure of wasted verify work)? With r=2, b=4 the theoretical
# candidate probability is 1-(1-j²)⁴; this operator MEASURES it on
# the corpus. Both legs reuse the registered machines verbatim — the
# truth leg is the ngram_jaccard pair join, the candidate leg is
# _lsh_candidate_pairs / the shared _LSH_CANDS_SQL fragment — so the
# audit cannot drift from the operators it audits.
#
# Scale shape: the union of its parts (shingle equi-join for truth,
# band-bucket groupBy for candidates), then a pair-key full-outer
# join and ONE one-row aggregate (the accounted single-partition
# merge). All ratios are integer/integer — cross-engine exact —
# rounded floor-form 4dp by convention. Registered r13 (the register
# call follows lsh_recall_oracle_sql below, which the builder
# precedes in the file).


def qa_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure the LSH banding stage against exact-Jaccard ground
    truth (registered r13; r12 preview). Output one row:
    (n_true_pairs, n_lsh_candidates, n_hits, recall,
    candidate_precision)."""
    ds = _shingle_sets_persisted(spark, sf_dir)
    # the truth leg feeds the SAME persisted shingle sets the candidate
    # leg materializes (exploded back to rows — identical relation to
    # _shingles, one shingle pipeline for the whole audit)
    truth = (
        _ngram_jaccard_pairs(ds.select("doc_id", F.explode("sh").alias("s")))
        .select("doc1", "doc2")
        .withColumn("is_true", F.lit(True))
    )
    cands = _lsh_candidate_pairs(ds).withColumn("is_cand", F.lit(True))
    m = truth.join(cands, ["doc1", "doc2"], "full_outer")
    n_true = F.count("is_true")
    n_cand = F.count("is_cand")
    n_hits = F.count(F.when(F.col("is_true") & F.col("is_cand"), 1))
    return m.agg(
        n_true.cast("bigint").alias("n_true_pairs"),
        n_cand.cast("bigint").alias("n_lsh_candidates"),
        n_hits.cast("bigint").alias("n_hits"),
        _r(
            F.when(n_true == 0, F.lit(1.0)).otherwise(
                n_hits.cast("double") / n_true
            ),
            4,
        ).alias("recall"),
        _r(
            F.when(n_cand == 0, F.lit(1.0)).otherwise(
                n_hits.cast("double") / n_cand
            ),
            4,
        ).alias("candidate_precision"),
    )


def lsh_recall_oracle_sql() -> str:
    """qa_lsh_recall_audit as one DuckDB text — the shared signature +
    candidates fragments (which read the documents table, like every
    oracle in this module) plus the shared ngram-truth fragments
    (_NGRAM_PAIRS_SQL / _NGRAM_JACCARD_SELECT, the exact texts
    dedup_ngram_jaccard registers — wrapped as a CTE, extra jaccard
    column unused) and one-row counts."""
    from nyc_traffic_insight_spark.functions.rounding import r4_sql as r4

    return (
        _SIG_SQL
        + _LSH_CANDS_SQL
        + _NGRAM_PAIRS_SQL
        + f""",
    truth AS ({_NGRAM_JACCARD_SELECT}),
    sizes AS (
      SELECT (SELECT count(*) FROM truth) AS n_true,
             (SELECT count(*) FROM candidates) AS n_cand,
             (SELECT count(*) FROM truth t JOIN candidates c
                ON t.doc1 = c.doc1 AND t.doc2 = c.doc2) AS n_hits
    )
    SELECT CAST(n_true AS BIGINT) AS n_true_pairs,
           CAST(n_cand AS BIGINT) AS n_lsh_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           """
        + r4("CASE WHEN n_true = 0 THEN 1.0 "
             "ELSE CAST(n_hits AS DOUBLE) / n_true END")
        + """ AS recall,
           """
        + r4("CASE WHEN n_cand = 0 THEN 1.0 "
             "ELSE CAST(n_hits AS DOUBLE) / n_cand END")
        + """ AS candidate_precision
    FROM sizes
    """
    )


# r13 promotion of the r12 preview (VERDICT r12 #1) — the register
# call sits after the oracle text it captures.
register(
    "qa_lsh_recall_audit",
    oracle=lsh_recall_oracle_sql(),
    survey="north-star: LSH banding recall/candidate-precision audit "
    "vs exact shingle-Jaccard truth",
)(qa_lsh_recall_audit)


# ------------- banding-geometry sweep (round-13 preview)
#
# The recall audit above grades ONE banding geometry; this sweeps the
# grid — the tuning run that picks (b, r) for a corpus. Motivated by
# a measured finding (SCALE.md "Second-decade probe", r13): on a
# corpus whose RANDOM pairs have non-negligible Jaccard, r=2 banding
# collides at ~j̄² per band and the candidate volume grows ~n²·j̄² —
# the lever is rows-per-band, and this operator measures exactly how
# much recall each extra row costs. All three geometries share the
# SAME 8-minhash signatures (b·r = 8): (8,1) maximal recall /
# maximal candidates, (4,2) the production geometry (its row equals
# qa_lsh_recall_audit's numbers, test-pinned), (2,4) the sparse
# setting the probe recommends for dense corpora.
#
# Scale shape: one signature pass (shared, persisted shingles), one
# truth pass (the exact machinery, checkpointed — at 100 TB the truth
# leg is run on a SAMPLE; the sweep's estimates are ratios, so a
# uniform pair sample is unbiased), then per geometry a band-bucket
# groupBy + in-bucket pair expansion and a one-row aggregate merge
# (the accounted SinglePartition shape, ×3). Registered r13 (the
# register call follows lsh_sweep_oracle_sql below).

_SWEEP_GEOMS = [(8, 1), (4, 2), (2, 4)]  # (bands, rows_per_band); b·r = 8


def _lsh_cands_geom(sig: DataFrame, b: int, r: int) -> DataFrame:
    """Candidate pairs at banding geometry (b, r) over an 8-hash
    signature frame — the parametric form of _lsh_candidate_pairs'
    fixed (4, 2) expansion, using the SAME distributed band self-join
    idiom (r15 rebuild, VERDICT r14 #2 — the collect_list form's hot
    bucket was a single-task m² expansion; the per-idiom rationale in
    _lsh_candidate_pairs applies verbatim).

    DELIBERATELY not consolidated with the fixed form (review r13):
    this joins on an array key over a caller-materialized signature,
    the fixed form on scalar k0..k{r-1} keys over the persisted one.
    Drift protection is the sweep test:
    test_lsh_sweep_matches_oracle_and_tradeoff_is_monotone pins this
    helper's (4, 2) output EQUAL to qa_lsh_recall_audit's (which runs
    the fixed form), so the two implementations cannot diverge
    silently. Apply any future expansion-idiom change in both places
    (and in _LSH_CANDS_SQL / _lsh_cands_geom_sql, their SQL twins)."""
    bands_long = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.array(
                            *[F.col(f"h{band * r + j}") for j in range(r)]
                        ).alias("key"),
                    )
                    for band in range(b)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.key")
    left = bands_long.select(
        "band", "key", F.col("doc_id").alias("doc1")
    )
    right = bands_long.select(
        "band", "key", F.col("doc_id").alias("doc2")
    )
    return (
        left.join(right, on=["band", "key"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def qa_lsh_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall / candidate-precision of every banding geometry over the
    same signatures and truth (registered r13; r13 preview). Output:
    one row per geometry — (n_bands, rows_per_band, n_true_pairs,
    n_lsh_candidates, n_hits, recall, candidate_precision)."""
    ds = _shingle_sets_persisted(spark, sf_dir)
    # the signature frame feeds every geometry branch of the final
    # union; materialize it (9 narrow columns) or each branch carries
    # its own copy of the md5 + 8-way-min aggregation — exchange
    # reuse across union branches is not guaranteed under AQE
    # (review r13; same rationale as truth below)
    sig = _sig_from_shingles(
        ds.select("doc_id", F.explode("sh").alias("s"))
    ).transform(materialize)
    # truth feeds all |_SWEEP_GEOMS| one-row aggregates — materialize
    # the narrow pair list once (the pipeline_unimax_corpus
    # checkpoint rationale)
    truth = (
        _ngram_jaccard_pairs(ds.select("doc_id", F.explode("sh").alias("s")))
        .select("doc1", "doc2")
        .withColumn("is_true", F.lit(True))
        .transform(materialize)
    )
    rows = []
    for b, r in _SWEEP_GEOMS:
        cands = _lsh_cands_geom(sig, b, r).withColumn("is_cand", F.lit(True))
        m = truth.join(cands, ["doc1", "doc2"], "full_outer")
        n_true = F.count("is_true")
        n_cand = F.count("is_cand")
        n_hits = F.count(F.when(F.col("is_true") & F.col("is_cand"), 1))
        rows.append(
            m.agg(
                F.lit(b).cast("int").alias("n_bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                n_true.cast("bigint").alias("n_true_pairs"),
                n_cand.cast("bigint").alias("n_lsh_candidates"),
                n_hits.cast("bigint").alias("n_hits"),
                _r(
                    F.when(n_true == 0, F.lit(1.0)).otherwise(
                        n_hits.cast("double") / n_true
                    ),
                    4,
                ).alias("recall"),
                _r(
                    F.when(n_cand == 0, F.lit(1.0)).otherwise(
                        n_hits.cast("double") / n_cand
                    ),
                    4,
                ).alias("candidate_precision"),
            )
        )
    out = rows[0]
    for extra in rows[1:]:
        out = out.unionAll(extra)
    return out


def lsh_sweep_oracle_sql() -> str:
    """qa_lsh_banding_sweep as one DuckDB text — shared signature +
    ngram-truth fragments, one parametric candidates CTE per geometry,
    a one-row count select per geometry UNION ALLed."""
    from nyc_traffic_insight_spark.functions.rounding import r4_sql as r4

    cte = _SIG_SQL + _NGRAM_PAIRS_SQL + f""",
    truth AS MATERIALIZED ({_NGRAM_JACCARD_SELECT})"""
    selects = []
    for b, r in _SWEEP_GEOMS:
        name = f"cands_{b}_{r}"
        cte += _lsh_cands_geom_sql(name, b, r)
        # the truth x candidates join is hoisted into one sizes CTE
        # per geometry (the lsh_recall_oracle_sql pattern) instead of
        # being respelled in n_hits + both ratio CASEs — DuckDB is
        # not guaranteed to CSE scalar subqueries (review r13)
        cte += f""",
    sizes_{name} AS (
      SELECT (SELECT count(*) FROM truth) AS n_true,
             (SELECT count(*) FROM {name}) AS n_cand,
             (SELECT count(*) FROM truth t JOIN {name} c
                ON t.doc1 = c.doc1 AND t.doc2 = c.doc2) AS n_hits
    )"""
        selects.append(
            f"""
    SELECT CAST({b} AS INTEGER) AS n_bands,
           CAST({r} AS INTEGER) AS rows_per_band,
           CAST(n_true AS BIGINT) AS n_true_pairs,
           CAST(n_cand AS BIGINT) AS n_lsh_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           """
            + r4(
                "CASE WHEN n_true = 0 THEN 1.0 "
                "ELSE CAST(n_hits AS DOUBLE) / n_true END"
            )
            + """ AS recall,
           """
            + r4(
                "CASE WHEN n_cand = 0 THEN 1.0 "
                "ELSE CAST(n_hits AS DOUBLE) / n_cand END"
            )
            + f" AS candidate_precision\n    FROM sizes_{name}"
        )
    return cte + "\n    UNION ALL".join(selects)


# r13 promotion of the r13 preview — register call after the oracle.
register(
    "qa_lsh_banding_sweep",
    oracle=lsh_sweep_oracle_sql(),
    survey="north-star: LSH banding-geometry tuning sweep "
    "(recall/precision per (b,r) over shared signatures)",
)(qa_lsh_banding_sweep)


# ------------- dedup retention curve (round-13 late preview)
#
# The number a data-budget owner reads before choosing a dedup
# threshold: how much corpus survives at Jaccard ≥ 0.5 / 0.7 / 0.9?
# (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
# Better" reports exactly this sweep.) EXACT at every threshold — the
# pair leg is the exhaustive shingle self-join (any pair with J > 0
# shares a shingle, so no banding-recall caveat applies), the same
# _NGRAM_PAIRS_SQL machinery as dedup_ngram_jaccard, and each
# threshold test is the INTEGER cross-multiplication 10·c ≥
# t₁₀·(n₁+n₂−c) — no float anywhere. Removal uses the catalog's
# standing min-id keep rule at the PAIR level: a doc is removed at
# threshold t iff it has a partner with a smaller id (i.e. appears as
# doc2 in any passing pair) — the dedup_canonical_select convention.
#
# Scale shape: the pair join is the registered ngram-jaccard
# baseline's (the scale path swaps in the banding candidates — at
# thresholds ≥ 0.5 and (4,2) banding the measured recall is
# qa_lsh_recall_audit's number); the threshold fan-out is an IN-ROW
# array filter + explode (≤3 extra rows per pair, narrow); the
# rollup is one groupBy to 3 rows + the accounted one-row corpus
# count. Registered late in r13 (the register call follows
# dedup_retention_oracle_sql below).

_RETENTION_T10 = [5, 7, 9]  # Jaccard thresholds ×10


def qa_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus retention after pair-rule dedup at each Jaccard
    threshold (registered r13; r13 late preview). Output: one row per
    threshold — (threshold_x10, n_pairs, n_docs_removed, n_docs,
    retention_rate).

    r16 clone-collapse rework (VERDICT r15 #7): the r13 shape ran the
    exhaustive shingle self-join over DOCS, so a cluster of m clones
    (identical shingle sets) emitted m² join rows per shared shingle —
    the decade probe measured ×24.8 bytes per salted-clone decade.
    Identical sets are now collapsed FIRST (groupBy the canonical
    sorted set → representative = min doc_id + multiplicity m); the
    exact pair machine runs over DISTINCT sets only, and the clone
    multiplicities reconstruct the identical numbers in closed form:

    - within a group every pair has J = 1 ≥ any threshold ≤ 1, so the
      group contributes C(m, 2) pairs and m − 1 removed docs (every
      non-min member is doc2 of its pair with the min) at EVERY
      threshold;
    - a passing representative pair (g1, g2), min(g1) < min(g2),
      contributes m1·m2 member pairs, and exactly ONE removed doc not
      already counted within-group: min(g2) — every other member of
      either group is already a within-group removal, and
      (min(g1), min(g2)) always passes with doc2 = min(g2). So the
      cross-removed count is count_distinct(doc2) over passing rep
      pairs — the identical aggregate, now over groups.

    Jaccard between groups depends only on the sets, so the rep-level
    integer tests are the member-level ones verbatim. Result is
    bit-identical (the DuckDB oracle below is byte-unchanged and the
    driver hash must match); the pair term drops from quadratic in
    clone count to quadratic in DISTINCT sets — the irreducible part
    of an exact all-pairs truth leg."""
    ds = _shingle_sets_persisted(spark, sf_dir)
    nd = _docs(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return _retention_grouped(spark, ds, nd)


def _retention_grouped(
    spark: SparkSession, ds: DataFrame, nd: DataFrame
) -> DataFrame:
    """Clone-collapsed exact retention over a non-empty (doc_id, sh)
    shingle-set frame (see qa_dedup_retention's docstring for the
    closed-form reconstruction argument)."""
    grp = ds.groupBy(F.sort_array("sh").alias("shk")).agg(
        F.min("doc_id").alias("gid"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    # threshold-independent clone-cluster totals: Σ C(m,2) pairs and
    # Σ (m−1) removals (J = 1 passes every threshold ≤ 1)
    within = grp.agg(
        F.coalesce(
            F.sum(F.expr("m * (m - 1) DIV 2")), F.lit(0)
        )
        .cast("bigint")
        .alias("wpairs"),
        F.coalesce(F.sum(F.col("m") - 1), F.lit(0))
        .cast("bigint")
        .alias("wremoved"),
    )
    sh = grp.select("gid", F.explode("shk").alias("s"))
    cnt = grp.select(
        "gid", F.size("shk").cast("long").alias("n"), "m"
    )
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .groupBy(
            F.col("a.gid").alias("doc1"), F.col("b.gid").alias("doc2")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    pc = (
        common.join(ca, F.col("doc1") == F.col("ca.gid"))
        .join(cb, F.col("doc2") == F.col("cb.gid"))
        .select(
            "doc1",
            "doc2",
            "c",
            F.col("ca.n").alias("n1"),
            F.col("cb.n").alias("n2"),
            F.col("ca.m").alias("m1"),
            F.col("cb.m").alias("m2"),
        )
    )
    union_sz = F.col("n1") + F.col("n2") - F.col("c")
    passing = pc.select(
        "doc1",
        "doc2",
        (F.col("m1") * F.col("m2")).alias("w"),
        F.explode(
            F.filter(
                F.array(*[F.lit(t) for t in _RETENTION_T10]),
                lambda t: F.col("c") * 10 >= t * union_sz,
            )
        ).alias("threshold_x10"),
    )
    stats = passing.groupBy("threshold_x10").agg(
        F.sum("w").cast("bigint").alias("cross_pairs"),
        F.count_distinct("doc2").cast("bigint").alias("cross_removed"),
    )
    thr = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in _RETENTION_T10])
        ).alias("threshold_x10")
    )
    return (
        thr.join(stats, "threshold_x10", "left")
        .crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(within))
        .select(
            "threshold_x10",
            (
                F.col("wpairs") + F.coalesce("cross_pairs", F.lit(0))
            )
            .cast("bigint")
            .alias("n_pairs"),
            (
                F.col("wremoved")
                + F.coalesce("cross_removed", F.lit(0))
            )
            .cast("bigint")
            .alias("n_docs_removed"),
            "n_docs",
            _r(
                (
                    F.col("n_docs")
                    - (
                        F.col("wremoved")
                        + F.coalesce("cross_removed", F.lit(0))
                    )
                ).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("retention_rate"),
        )
    )


def _retention_tail(
    spark: SparkSession, pc: DataFrame, nd: DataFrame
) -> DataFrame:
    """Threshold fan-out + rollup over a (doc1, doc2, c, n1, n2)
    integer pair frame — shared by the banded sibling (r15) and the
    doc-level reference machine in tests/test_dedup_retention.py, so
    the two retention curves differ ONLY in where their pairs come
    from."""
    # in-row threshold fan-out: each pair explodes to the thresholds
    # it passes (10c >= t*(n1+n2-c), pure integers)
    union_sz = F.col("n1") + F.col("n2") - F.col("c")
    passing = pc.select(
        "doc1",
        "doc2",
        F.explode(
            F.filter(
                F.array(*[F.lit(t) for t in _RETENTION_T10]),
                lambda t: F.col("c") * 10 >= t * union_sz,
            )
        ).alias("threshold_x10"),
    )
    stats = passing.groupBy("threshold_x10").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.count_distinct("doc2").cast("bigint").alias("n_docs_removed"),
    )
    thr = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in _RETENTION_T10])
        ).alias("threshold_x10")
    )
    out = (
        thr.join(stats, "threshold_x10", "left")
        .crossJoin(F.broadcast(nd))
        .select(
            "threshold_x10",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_docs_removed", F.lit(0))
            .cast("bigint")
            .alias("n_docs_removed"),
            "n_docs",
            _r(
                (
                    F.col("n_docs")
                    - F.coalesce("n_docs_removed", F.lit(0))
                ).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("retention_rate"),
        )
    )
    return out


def dedup_retention_oracle_sql() -> str:
    """qa_dedup_retention as one DuckDB text — the shared shingle +
    pair fragments, integer threshold tests, a 3-row rollup."""
    from nyc_traffic_insight_spark.functions.rounding import r6_sql

    t10 = ", ".join(str(t) for t in _RETENTION_T10)
    return (
        _SHINGLES_SQL
        + _NGRAM_PAIRS_SQL
        + f""",
    thr AS (SELECT unnest([{t10}]) AS threshold_x10),
    passing AS (
      SELECT t.threshold_x10, c.doc1, c.doc2
      FROM common c
      JOIN cnt ca ON ca.doc_id = c.doc1
      JOIN cnt cb ON cb.doc_id = c.doc2
      JOIN thr t ON 10 * c.c >= t.threshold_x10 * (ca.n + cb.n - c.c)
    ),
    stats AS (
      SELECT threshold_x10,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT doc2) AS BIGINT) AS n_docs_removed
      FROM passing GROUP BY 1
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT t.threshold_x10,
           CAST(coalesce(s.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(s.n_docs_removed, 0) AS BIGINT) AS n_docs_removed,
           nd.n_docs,
           {r6_sql("CAST(nd.n_docs - coalesce(s.n_docs_removed, 0)"
                   " AS DOUBLE) / nd.n_docs")} AS retention_rate
    FROM thr t LEFT JOIN stats s ON s.threshold_x10 = t.threshold_x10
    CROSS JOIN nd
    """
    )


# r13 late promotion — register call after the oracle.
register(
    "qa_dedup_retention",
    oracle=dedup_retention_oracle_sql,
    survey="north-star: dedup retention curve (corpus survival at "
    "Jaccard 0.5/0.7/0.9, exact pair truth, integer tests)",
)(qa_dedup_retention)


# ------------- banded retention curve (r15; VERDICT r14 #8)
#
# The exact curve above is the TRUTH leg: its pair join is the
# exhaustive shingle self-join, quadratic in clone count (the r14
# decade probe measured 24.8× bytes at the salted-ident decade —
# SCALE.md). This sibling is the named scale path: the SAME three
# thresholds and rollup, but candidate pairs from the banded LSH join
# (_lsh_candidate_pairs — since r15 the distributed band self
# equi-join) with the exact integer verify run on candidates only.
# At thresholds ≥ 0.5 under the (4, 2) geometry the expected recall
# vs the exact curve is qa_lsh_recall_audit's measured number; the
# oracle composes the same banding geometry via _lsh_cands_geom_sql,
# so the curve is value-hash-checked end to end, banding included.


def qa_dedup_retention_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retention curve with LSH-banded candidates + exact verify —
    the shape that survives a clone-heavy 100 TB corpus. Output
    schema identical to qa_dedup_retention."""
    ds = _shingle_sets_persisted(spark, sf_dir)
    cands = _lsh_candidate_pairs(ds)
    sa = ds.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    sb = ds.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    pc = (
        cands.join(sa, "doc1")
        .join(sb, "doc2")
        .select(
            "doc1",
            "doc2",
            F.size(F.array_intersect("sh1", "sh2")).cast("long").alias("c"),
            F.size("sh1").cast("long").alias("n1"),
            F.size("sh2").cast("long").alias("n2"),
        )
    )
    nd = _docs(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return _retention_tail(spark, pc, nd)


def dedup_retention_banded_oracle_sql() -> str:
    """qa_dedup_retention_banded as one DuckDB text — signature +
    banding candidates (the shared _lsh_cands_geom_sql geometry),
    exact verify over candidates, the same integer threshold tests
    and 3-row rollup as the exact curve."""
    from nyc_traffic_insight_spark.functions.rounding import r6_sql

    t10 = ", ".join(str(t) for t in _RETENTION_T10)
    return (
        _SIG_SQL
        + _lsh_cands_geom_sql("candidates", _LSH_B, _LSH_R)
        + f""",
    cnt AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
    verified AS (
      SELECT c.doc1, c.doc2, count(*) AS cc
      FROM candidates c
      JOIN shingles sa ON sa.doc_id = c.doc1
      JOIN shingles sb ON sb.doc_id = c.doc2 AND sb.s = sa.s
      GROUP BY 1, 2
    ),
    thr AS (SELECT unnest([{t10}]) AS threshold_x10),
    passing AS (
      SELECT t.threshold_x10, v.doc1, v.doc2
      FROM verified v
      JOIN cnt ca ON ca.doc_id = v.doc1
      JOIN cnt cb ON cb.doc_id = v.doc2
      JOIN thr t ON 10 * v.cc >= t.threshold_x10 * (ca.n + cb.n - v.cc)
    ),
    stats AS (
      SELECT threshold_x10,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT doc2) AS BIGINT) AS n_docs_removed
      FROM passing GROUP BY 1
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT t.threshold_x10,
           CAST(coalesce(s.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(s.n_docs_removed, 0) AS BIGINT) AS n_docs_removed,
           nd.n_docs,
           {r6_sql("CAST(nd.n_docs - coalesce(s.n_docs_removed, 0)"
                   " AS DOUBLE) / nd.n_docs")} AS retention_rate
    FROM thr t LEFT JOIN stats s ON s.threshold_x10 = t.threshold_x10
    CROSS JOIN nd
    """
    )


register(
    "qa_dedup_retention_banded",
    oracle=dedup_retention_banded_oracle_sql,
    survey="north-star: dedup retention curve over LSH-banded "
    "candidates + exact verify — the clone-robust scale path the "
    "exact curve's own decade probe motivated (quadratic-in-clones "
    "exhaustive self-join avoided; banding geometry shared with "
    "dedup_minhash_lsh)",
)(qa_dedup_retention_banded)


# ------------- corpus-health QA trio (round-13 previews)
#
# The three one-row numbers every corpus card reports, each computed
# from machinery the catalog already trusts:
#
# - duplicate-n-gram rate (Gopher table A1 / RefinedWeb's "% of
#   duplicated n-grams"): of ALL trigram occurrences in the corpus,
#   the fraction whose trigram occurs more than once. Note this needs
#   OCCURRENCES, not the per-doc DISTINCT sets the shingle fragments
#   build — a separate non-distinct explode (same construction minus
#   array_distinct / DISTINCT).
# - contamination rate (the model-card headline): the fraction of the
#   eval slice's distinct n-grams that appear anywhere in the train
#   slice, plus the doc-level rate (eval docs with >=1 shared n-gram).
#   Same eval-xor split (_DECON_EVAL_MOD) as the decontamination
#   operators.
# - Zipf slope (corpus-health power law): OLS of ln(freq) on ln(rank)
#   over the top-V vocabulary. Order-free by the tick pattern — ln
#   values quantize to integer 1e-6 ticks, and every OLS input
#   (Σx, Σy, Σxy, Σx², Σy², n) is a BIGINT sum of tick products, so
#   partition layout cannot move the regression.
#
# Scale shapes: dup-rate is one map-side-combinable trigram groupBy +
# a one-row merge; contamination broadcasts the (benchmark-suite-
# sized) eval n-gram set onto the train scan (the text_decontaminate
# shape) + one-row counts; zipf's ranked-vocab window runs over the
# top-V survivors of a distributed TakeOrdered (the vocab_top_ngrams
# lesson), never the full vocabulary. All three registered r13 (each
# register call follows the oracle it captures).

_ZIPF_TOPV = 1000


def _ngram_occurrences(d: DataFrame) -> DataFrame:
    """ALL trigram occurrences (non-distinct) over a (doc_id, text)
    frame — the _shingle_sets construction minus the dedup."""
    w = F.split(F.lower("text"), r"\s+")
    n = F.greatest(F.size(w) - 2, F.lit(0))
    sh = F.zip_with(
        F.zip_with(
            F.slice(w, 1, n),
            F.slice(w, 2, n),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        F.slice(w, 3, n),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    return d.select("doc_id", F.explode(sh).alias("s"))


# the occurrence chain as SQL — _SHINGLES_SQL minus the DISTINCT
_NGRAM_OCC_SQL = """
    WITH __words AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents
    ),
    __idx AS (
      SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
      FROM __words
    ),
    occ AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM __idx
    )
"""


def text_dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-trigram rate over the documents corpus (the Gopher /
    RefinedWeb repetition metric; registered r13, r13 preview).
    Output one row: (n_occurrences, n_dup_occurrences, dup_rate,
    n_distinct, n_repeated_distinct)."""
    counts = (
        _ngram_occurrences(_docs(spark, sf_dir))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_occ = F.sum("c")
    n_dup = F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
    return counts.agg(
        n_occ.cast("bigint").alias("n_occurrences"),
        n_dup.cast("bigint").alias("n_dup_occurrences"),
        _r(n_dup.cast("double") / n_occ, 6).alias("dup_rate"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.count(F.when(F.col("c") > 1, 1))
        .cast("bigint")
        .alias("n_repeated_distinct"),
    )


def dup_ngram_oracle_sql() -> str:
    """text_dup_ngram_rate as one DuckDB text."""
    from nyc_traffic_insight_spark.functions.rounding import r6_sql

    return (
        _NGRAM_OCC_SQL
        + f""",
    counts AS (SELECT s, count(*) AS c FROM occ GROUP BY 1)
    SELECT CAST(sum(c) AS BIGINT) AS n_occurrences,
           CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
             AS n_dup_occurrences,
           {r6_sql("CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)"
                    " / sum(c)")} AS dup_rate,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(count(CASE WHEN c > 1 THEN 1 END) AS BIGINT)
             AS n_repeated_distinct
    FROM counts
    """
    )


# r13 promotion of the r13 preview — register call after the oracle.
register(
    "text_dup_ngram_rate",
    oracle=dup_ngram_oracle_sql(),
    survey="north-star: duplicate-n-gram rate corpus-health metric "
    "(Gopher/RefinedWeb repetition share)",
)(text_dup_ngram_rate)


def qa_contamination_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level contamination headline: the share of the eval
    slice's distinct trigrams present anywhere in the train slice,
    and the share of eval docs with at least one shared trigram
    (registered r13; r13 preview). Output one row: (n_eval_ngrams,
    n_contaminated_ngrams, ngram_rate, n_eval_docs, n_eval_docs_hit,
    doc_rate)."""
    sh = _shingle_sets_persisted(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("s")
    )
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == 0
    eval_sh = sh.filter(is_eval)
    eval_set = eval_sh.select("s").distinct()
    # hit n-grams: eval set ∩ train set, computed on the TRAIN scan
    # with the eval set broadcast (the text_decontaminate shape)
    hit = (
        sh.filter(~is_eval)
        .select("s")
        .join(F.broadcast(eval_set), "s", "left_semi")
        .distinct()
        .withColumn("is_hit", F.lit(True))
        .transform(materialize)  # feeds the n-gram count AND the doc join
    )
    # four one-row aggregates crossJoined — fully engine-side and
    # lazy (the qa_freshness_audit one-row-constant shape); each
    # crossJoin side is exactly one row, the accounted BNLJ class
    out = (
        eval_set.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval_ngrams")
        )
        .crossJoin(
            hit.agg(
                F.count(F.lit(1))
                .cast("bigint")
                .alias("n_contaminated_ngrams")
            )
        )
        .crossJoin(
            _docs(spark, sf_dir)
            .filter(is_eval)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_eval_docs"))
        )
        .crossJoin(
            eval_sh.join(F.broadcast(hit.select("s")), "s", "left_semi")
            .select("doc_id")
            .distinct()
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_eval_docs_hit")
            )
        )
    )
    return out.select(
        "n_eval_ngrams",
        "n_contaminated_ngrams",
        _r(
            F.col("n_contaminated_ngrams").cast("double")
            / F.col("n_eval_ngrams"),
            6,
        ).alias("ngram_rate"),
        "n_eval_docs",
        "n_eval_docs_hit",
        _r(
            F.col("n_eval_docs_hit").cast("double") / F.col("n_eval_docs"),
            6,
        ).alias("doc_rate"),
    )


def contamination_rate_oracle_sql() -> str:
    """qa_contamination_rate as one DuckDB text — the shared shingle
    chain, an eval/train split, set intersection, one-row counts."""
    from nyc_traffic_insight_spark.functions.rounding import r6_sql

    m = _DECON_EVAL_MOD
    return (
        _SHINGLES_SQL
        + f""",
    eval_set AS (
      SELECT DISTINCT s FROM shingles WHERE doc_id % {m} = 0
    ),
    hit AS (
      SELECT DISTINCT t.s FROM shingles t JOIN eval_set e ON e.s = t.s
      WHERE t.doc_id % {m} <> 0
    ),
    sizes AS (
      SELECT (SELECT count(*) FROM eval_set) AS n_eval,
             (SELECT count(*) FROM hit) AS n_hit,
             (SELECT count(*) FROM documents WHERE doc_id % {m} = 0)
               AS n_edocs,
             (SELECT count(DISTINCT sh.doc_id) FROM shingles sh
              JOIN hit h ON h.s = sh.s
              WHERE sh.doc_id % {m} = 0) AS n_edocs_hit
    )
    SELECT CAST(n_eval AS BIGINT) AS n_eval_ngrams,
           CAST(n_hit AS BIGINT) AS n_contaminated_ngrams,
           {r6_sql("CAST(n_hit AS DOUBLE) / n_eval")} AS ngram_rate,
           CAST(n_edocs AS BIGINT) AS n_eval_docs,
           CAST(n_edocs_hit AS BIGINT) AS n_eval_docs_hit,
           {r6_sql("CAST(n_edocs_hit AS DOUBLE) / n_edocs")} AS doc_rate
    FROM sizes
    """
    )


# r13 promotion of the r13 preview — register call after the oracle.
# The oracle is LAZY: its text interpolates _DECON_EVAL_MOD, defined
# in the decontamination section below; load_all renders it after the
# whole module has evaluated (this call originally had to live 2,400
# lines away next to the constant — r13 review #4).
register(
    "qa_contamination_rate",
    oracle=contamination_rate_oracle_sql,
    survey="north-star: corpus-level eval-contamination rate "
    "(n-gram-level + doc-level, model-card headline)",
)(qa_contamination_rate)


def _zipf_select(sums: str) -> str:
    """OLS readout from the one-row tick-sum relation (n, sx, sy,
    sxy, sxx, syy) — ONE shared text for both engines. The 1e6 tick
    scale cancels in slope and r² (both are ratios of same-degree
    tick polynomials); the intercept divides one residual scale back
    out.

    Every product runs in DOUBLE via the __dn..__dyy projection
    (review r13): with top-V = 1000 the integer cross terms overflow
    BIGINT (sx ≈ 5.9e9 → sx·sx ≈ 3.5e19 > 2^63; reproduced as a
    DuckDB Out-of-Range on a 1200-word corpus the 31-word fixture
    never reaches). The BIGINT→DOUBLE casts are deterministic
    (nearest-even of identical integers in both engines), and the
    ratios after them are single IEEE expressions of the shared
    text. The SUMS themselves stay exact BIGINT up to top-V ≈ 5·10^4
    (Σyt² headroom); past that, spell the sums DECIMAL(38,0)."""
    from nyc_traffic_insight_spark.functions.rounding import r4_sql

    num = "(__dn * __dxy - __dx * __dy)"
    denx = "(__dn * __dxx - __dx * __dx)"
    deny = "(__dn * __dyy - __dy * __dy)"
    slope = f"{num} / {denx}"
    proj = (
        "SELECT CAST(n AS BIGINT) AS n, "
        "CAST(n AS DOUBLE) AS __dn, CAST(sx AS DOUBLE) AS __dx, "
        "CAST(sy AS DOUBLE) AS __dy, CAST(sxy AS DOUBLE) AS __dxy, "
        "CAST(sxx AS DOUBLE) AS __dxx, CAST(syy AS DOUBLE) AS __dyy "
        f"FROM {sums}"
    )
    return (
        "SELECT n AS n_vocab, "
        + r4_sql(f"-({slope})")
        + " AS neg_slope, "
        + r4_sql(f"(__dy - ({slope}) * __dx) / (__dn * 1000000.0)")
        + " AS intercept, "
        + r4_sql(f"{num} * {num} / ({denx} * {deny})")
        + f" AS r2 FROM ({proj}) __d"
    )


def qa_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the top-V vocabulary: OLS of ln(freq)
    on ln(rank), reported as (n_vocab, neg_slope, intercept, r2) —
    neg_slope ≈ 1 is the healthy-corpus reading (registered r13;
    r13 preview)."""
    from pyspark.sql import Window

    words = _docs(spark, sf_dir).select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    )
    wf = (
        words.filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    order = [F.desc("c"), F.col("w")]
    top = wf.orderBy(*order).limit(_ZIPF_TOPV)
    rk = F.row_number().over(Window.orderBy(*order)).cast("bigint")
    xt = F.floor(F.log(rk.cast("double")) * 1e6 + 0.5).cast("long")
    yt = F.floor(F.log(F.col("c").cast("double")) * 1e6 + 0.5).cast("long")
    sums = top.select(xt.alias("xt"), yt.alias("yt")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xt").alias("sx"),
        F.sum("yt").alias("sy"),
        F.sum(F.col("xt") * F.col("yt")).alias("sxy"),
        F.sum(F.col("xt") * F.col("xt")).alias("sxx"),
        F.sum(F.col("yt") * F.col("yt")).alias("syy"),
    )
    return spark.sql(_zipf_select("{sums}"), sums=sums)


def zipf_oracle_sql(table: str = "documents", topv: int = _ZIPF_TOPV) -> str:
    """qa_zipf_slope as one DuckDB text — ranked vocab, identical
    ln-tick quantization, the shared OLS readout."""
    return rf"""
    WITH words AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      FROM {table}
    ),
    wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM words WHERE w <> '' GROUP BY 1
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk
      FROM wf ORDER BY c DESC, w LIMIT {topv}
    ),
    ticks AS (
      SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS xt,
             CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS yt
      FROM ranked
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xt) AS BIGINT) AS sx,
             CAST(sum(yt) AS BIGINT) AS sy,
             CAST(sum(xt * yt) AS BIGINT) AS sxy,
             CAST(sum(xt * xt) AS BIGINT) AS sxx,
             CAST(sum(yt * yt) AS BIGINT) AS syy
      FROM ticks
    )
    {_zipf_select("sums")}
    """


# r13 promotion of the r13 preview — register call after the oracle.
register(
    "qa_zipf_slope",
    oracle=zipf_oracle_sql(),
    survey="north-star: Zipf power-law corpus-health fit "
    "(order-free tick-sum OLS over the top-V vocabulary)",
)(qa_zipf_slope)


_SIMHASH_BITS = 16


@register(
    "dedup_simhash",
    survey="north-star: SimHash document fingerprints",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
    ),
    bits AS (
      SELECT doc_id, i,
             sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS weight
      FROM hashed, (SELECT unnest(range(0, {_SIMHASH_BITS})) AS i)
      GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN weight > 0 THEN 1 << i ELSE 0 END) AS BIGINT)
             AS simhash
    FROM bits GROUP BY 1
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash: per-token md5-derived int, ±1 vote per bit
    position weighted by token multiplicity, sign → bit. Near-dups have
    small Hamming distance; grouping by simhash (or by bit-bands of it)
    is the constant-cost near-dup bucketer.

    Token hash = first 8 hex chars of md5 → bit-identical both engines.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    )
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint").alias("h"),
    )
    exploded = hashed.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))).alias("i"),
    )
    vote = F.when(F.expr("shiftright(h, i) & 1") == 1, 1).otherwise(-1)
    bits = exploded.groupBy("doc_id", "i").agg(F.sum(vote).alias("weight"))
    return bits.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("weight") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), i)")
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("simhash")
    )


# ------------------------------------------------- embedding similarity

def _dot(a, b):
    """Dot product of two array columns, accumulated sequentially in
    double (the order DuckDB's list_cosine_similarity uses)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    """Euclidean norm of an array column, same sequential order."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _norm_dot(a, b):
    """Cosine over two array<float> columns, computed in double.

    Both engines accumulate the 64-dim dot product sequentially in
    double, so the result is bit-identical — no rounding needed.
    """
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cos_topk(scored: DataFrame) -> DataFrame:
    """The per-query top-_TOPK tail over (query_id, neighbor_id,
    cos_raw) → (query_id, neighbor_id, cosine, rnk): cos DESC, ties by
    neighbor id, the oracles' window order."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .select("query_id", "neighbor_id", _r("cos_raw", 4).alias("cosine"), "rnk")
    )


@register(
    "dedup_embedding_cosine",
    survey="north-star: embedding-cosine near-dup pairs",
    oracle="""
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by embedding cosine > 0.4.

    Brute-force pairwise (correctness baseline) — the range-join form
    `a.vec_id < b.vec_id` is a nested-loop at test scale; the 100 TB
    path is sim_search_lsh_topk (hyperplane buckets shrink candidates
    by ~2^planes). Dot products run as JVM higher-order functions
    (zip_with/aggregate), no Python.
    """
    e = _embs(spark, sf_dir)
    a = e.alias("a")
    b = e.alias("b")
    cos = _norm_dot(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            cos.alias("cosine_raw"),
        )
        .filter(F.col("cosine_raw") > 0.4)
        .select("id1", "id2", _r("cosine_raw", 4).alias("cosine"))
    )



@register(
    "sim_search_bruteforce_topk",
    survey="north-star: brute-force cosine top-k ANN baseline",
    oracle="""
    WITH queries AS (SELECT * FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]) AS cos_raw
      FROM queries q JOIN embeddings c ON q.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_raw DESC, neighbor_id)
                  AS INTEGER) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine, rnk
    FROM ranked WHERE rnk <= 10
    """,
)
def sim_search_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors for each query vector (vec_id < 5).

    Query side is tiny → broadcast; every corpus partition scores its
    rows against all queries and emits local candidates; the window
    does per-query top-k. At 100 TB this exact plan holds: broadcast
    queries, map-side scoring, top-k via TakeOrdered-like window on
    |queries|×|partition| candidates.
    """
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
    return _cos_topk(
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _norm_dot(F.col("q_emb"), F.col("c_emb")).alias("cos_raw"),
        )
    )


_N_PLANES = 8


def _plane_weights() -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights in [-1, 1], derived
    from md5(p_d) — hashlib here, md5() in the oracle SQL, bit-identical."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
            / 1000.0
            for d in range(64)
        ]
        for p in range(_N_PLANES)
    ]


def _lsh_oracle() -> str:
    planes = _plane_weights()
    proj = ",\n".join(
        f"           list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(w) for w in ws)}]) AS dot{p}"
        for p, ws in enumerate(planes)
    )
    bits = " + ".join(
        f"(CASE WHEN dot{p} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(_N_PLANES)
    )
    return f"""
    WITH proj AS (
      SELECT vec_id,
{proj}
      FROM embeddings
    )
    SELECT vec_id, CAST({bits} AS BIGINT) AS bucket FROM proj
    """


@register(
    "sim_search_lsh_buckets",
    survey="north-star: hyperplane-LSH bucket assignment (ANN scale path)",
    oracle=_lsh_oracle(),
)
def sim_search_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 8 deterministic md5-seeded planes → 8 sign
    bits → bucket id. Vectors in the same bucket are ANN candidates; the
    expected candidate-set shrink is 2^8. At 100 TB this is one narrow
    map (the planes ride along as literals in the plan — nothing is
    shuffled or broadcast) + the bucket groupBy downstream.

    Both engines accumulate each 64-term dot product sequentially in
    double, so the sign bits — and hence buckets — match exactly.
    """
    e = _embs(spark, sf_dir)
    # one generated expr, not 512 F.lit py4j round trips (r15 — the
    # same plan-build tax fix as the PQ tier); r16: each plane is a
    # constant-foldable from_json literal (_fold_idx_sql) that folds
    # to the identical array constant, so the analyzed tree is flat
    # in dim and the sequential-accumulation bit-identity is unchanged
    bits = []
    for p, ws in enumerate(_plane_weights()):
        plane = _fold_idx_sql([float(w) for w in ws], "ARRAY<DOUBLE>")
        dot = (
            f"aggregate(zip_with(embedding, {plane}, "
            "(x, w) -> CAST(x AS DOUBLE) * w), 0.0D, "
            "(acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return e.select(
        "vec_id",
        F.expr("CAST({} AS BIGINT)".format(" + ".join(bits))).alias(
            "bucket"
        ),
    )


_DIM = 64
_NPROBE = 2
_TOPK = 10


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list:
    """The IVF coarse quantizer: per-cell centroid vectors, computed
    once per (app, sf_dir) and returned as plain Python literals.

    Built scale-safely — posexplode → groupBy(label, pos) keeps per-group
    state bounded (one running mean per (cell, component), never a whole
    cell's vectors in memory) — and rounded Spark-side with the shared
    floor-form round(,6) helper, so the collected values are bit-identical
    to what the oracle's round(avg(v), 6) produces.  The collect is
    k×dim ≈ 10×64 doubles: an index artifact, not data — the same object
    a 100 TB deployment would compute from sampled KMeans, store, and
    ship to every query as a broadcast/literal."""

    def _build() -> list:
        e = _embs(spark, sf_dir)
        comp = e.select(
            "label", F.posexplode("embedding").alias("pos", "v")
        )
        cent = comp.groupBy("label", "pos").agg(
            _r(F.avg(F.col("v").cast("double")), 6).alias("c")
        )
        centroids = cent.groupBy("label").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda x: x["c"],
            ).alias("cvec")
        )
        return sorted(
            [row["label"], list(row["cvec"])]
            for row in centroids.collect()
        )

    # Second level: the content-addressed disk artifact — a fresh
    # session (the correctness gate always runs cold) loads the index
    # instead of re-deriving it; the fingerprint over the embeddings
    # bytes makes stale reuse impossible. JSON round-trips
    # the round(,6) doubles exactly, so literal embedding stays
    # bit-identical to the oracle's recomputation either way.
    return session_cached(
        spark,
        ("ivf_centroids", sf_dir),
        lambda: cached_json(
            "ivf_centroids", sf_dir, ["embeddings"], {"dim": _DIM}, _build
        ),
    )


def _fold_idx_sql(payload, ddl: str) -> str:
    """An index/codebook artifact as ONE constant-foldable expression:
    ``from_json('<json>', '<ddl>')``.

    A generated-SQL literal form kills the per-value py4j
    storm, but the values still ride the plan as an EXPRESSION TREE
    (3 nodes per double: Cast(Literal(str))) — and PySpark DataFrame
    ops analyze eagerly, so every .select/.join over an index-bearing
    frame re-traversed the whole k·dim-node tree. pipeline_ann_ivfpq
    paid ~0.7 s of per-call plan construction from exactly this, and
    the D4 scale-k index makes the tree grow with the corpus. Here
    the whole artifact is ONE string literal under a from_json call —
    a 2-node tree at ANY index size — which Catalyst CONSTANT-FOLDS
    once per query into the identical in-memory constant the old tree
    folded to, so execution is byte-for-byte the literal path (the
    scalar-subquery and broadcast-relation alternatives were measured
    3–5× slower per row — interleaved A/B in OPTIMIZATION_r16.md).

    Exactness: json.dumps renders doubles with repr (shortest form)
    and from_json parses with Java Double.parseDouble — the same
    round-trip law the CAST('<repr>' AS DOUBLE) spelling relied on;
    verified value-identical against the CAST form on 500 random
    doubles plus denormal/large magnitudes. Ticks/ints are exact in
    JSON by construction. NaN/Inf never occur in these artifacts."""
    import json as _json

    js = _json.dumps(payload, separators=(",", ":"))
    if "'" in js or "\\" in js:  # never true for numeric payloads
        raise ValueError("index payload not SQL-single-quote-safe")
    return f"from_json('{js}', '{ddl}')"


_CELLS_T = "ARRAY<STRUCT<cell: INT, cvec: ARRAY<DOUBLE>, nrm: DOUBLE>>"


def _cells_payload(cells) -> list:
    """A [[cell, cvec], ...] centroid list as the cell-literal payload
    [{cell, cvec, nrm}, ...]. Each cell's norm is summed in Python in
    the same sequential float64 order as _norm, so dot / (|emb|·nrm)
    is bit-for-bit the _norm_dot cosine (and the oracles'
    list_cosine_similarity) while the per-(row, cell) scoring skips
    the constant cell-norm aggregate."""
    import math

    out = []
    for cell, vec in cells:
        s = 0.0
        for v in vec:
            s += float(v) * float(v)
        out.append(
            {"cell": int(cell), "cvec": [float(v) for v in vec], "nrm": math.sqrt(s)}
        )
    return out


def _cells_lit(cells) -> F.Column:
    """The centroid list as ONE constant-foldable cell literal
    (_fold_idx_sql) — the one index spelling every nearest-centroid
    consumer (the IVF tiers and the SemDeDup/D4 assignment) scores
    against, so the routing cannot drift between them."""
    return F.expr(_fold_idx_sql(_cells_payload(cells), _CELLS_T))


def _ranked_cells(cand) -> F.Column:
    """The cells of a cell-literal column ranked for the row's
    `embedding`, fully narrow: (negcos, cell) structs sorted ascending
    == (cos DESC, cell ASC) — negation of a double is exact, so the
    order matches the oracles' window ORDER BY bit-for-bit.

    The row norm is computed inline, per cell, on purpose: hoisting it
    to a column does not help, because CollapseProject inlines the
    column into the lambda anyway and leaves a second copy at every
    other use (measured ~40% slower than the inline form)."""
    emb = F.col("embedding")
    return F.array_sort(
        F.transform(
            cand,
            lambda c: F.struct(
                (-(_dot(emb, c["cvec"]) / (_norm(emb) * c["nrm"]))).alias("negcos"),
                c["cell"].alias("cell"),
            ),
        )
    )


def _ivf_probe_pairs(e: DataFrame, cells: list) -> DataFrame:
    """The IVF probe join over a cell list → (cell, neighbor_id, c_emb,
    query_id, q_emb): every corpus vector is routed to its nearest
    cell, each query (vec_id < _ADC_NQUERY, the sim_search query set)
    to its _NPROBE nearest, self-matches dropped. Assignment and
    probing are narrow array_sorts over the cell literal, and the
    |queries|·nprobe probe side is broadcast, so the corpus is never
    exchanged. Each side gets its own _ranked_cells expression: the
    two sides join back onto one lineage, and sharing the lambda
    variables across them loses their bindings."""
    with_cells = e.withColumn("cells", _cells_lit(cells))
    assign = with_cells.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.element_at(_ranked_cells(F.col("cells")), 1)["cell"].alias("cell"),
    )
    probes = (
        with_cells.filter(F.col("vec_id") < _ADC_NQUERY)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(
                F.slice(_ranked_cells(F.col("cells")), 1, _NPROBE)
            ).alias("pc"),
        )
        .select("query_id", "q_emb", F.col("pc")["cell"].alias("cell"))
    )
    return assign.join(F.broadcast(probes), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )


def _ivf_topk(spark: SparkSession, sf_dir: str, cells: list) -> DataFrame:
    """IVF top-_TOPK over the embeddings table for a [[cell, cvec], ...]
    coarse quantizer: probe pairs, pair cosine, the shared top-k tail."""
    pairs = _ivf_probe_pairs(_embs(spark, sf_dir), cells)
    return _cos_topk(
        pairs.select(
            "query_id",
            "neighbor_id",
            _norm_dot(F.col("q_emb"), F.col("c_emb")).alias("cos_raw"),
        )
    )


# The oracle-side twin of _ranked_cells: the coarse-ranking
# window over an `embeddings e, centroids c` product — ONE SQL
# spelling shared by sim_search_ivf_topk's oracle (both its assign
# and probes CTEs) and pipeline_ann_ivfpq's (coarse and probes), so
# the cell routing cannot drift between the index and anything
# composed on it.
_IVF_RANK_SQL = (
    "row_number() OVER (\n"
    "                 PARTITION BY e.vec_id\n"
    "                 ORDER BY list_cosine_similarity("
    "e.embedding::DOUBLE[], c.cvec)\n"
    "                          DESC, c.cell) AS rn"
)


@register(
    "sim_search_ivf_topk",
    survey="north-star: IVF ANN — coarse centroids, nprobe cells, in-cell top-k",
    oracle=f"""
    WITH comp AS (
      SELECT vec_id, label, i + 1 AS pos,
             CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM embeddings, (SELECT unnest(range(0, {_DIM})) AS i)
    ),
    cent AS (
      SELECT label, pos, round(avg(v), 6) AS c
      FROM comp GROUP BY 1, 2
    ),
    centroids AS (
      SELECT label AS cell, list(c ORDER BY pos) AS cvec
      FROM cent GROUP BY label
    ),
    assign AS (
      SELECT vec_id, cell, embedding, rn FROM (
        SELECT e.vec_id, c.cell, e.embedding,
               {_IVF_RANK_SQL}
        FROM embeddings e, centroids c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell, embedding AS q_emb, rn FROM (
        SELECT e.vec_id, c.cell, e.embedding,
               {_IVF_RANK_SQL}
        FROM embeddings e, centroids c
        WHERE e.vec_id < 5
      ) WHERE rn <= {_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(p.q_emb::DOUBLE[],
                                    a.embedding::DOUBLE[]) AS cos_raw
      FROM probes p JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_raw DESC, neighbor_id)
                  AS INTEGER) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine, rnk
    FROM ranked WHERE rnk <= {_TOPK}
    """,
)
def sim_search_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the scale path next to the LSH variant:

    1. coarse quantizer: one centroid per label cell (per-component
       mean, rounded so both engines hold identical centroids);
    2. every corpus vector is assigned to its nearest centroid — a
       broadcast join against the tiny centroid table + argmin;
    3. each query probes its nprobe=2 nearest cells and ranks ONLY the
       vectors assigned there — the candidate set shrinks by
       ~|cells|/nprobe vs brute force.

    At 100 TB: centroids come from a sampled k-means (KMeans in MLlib)
    instead of labels, the assignment is the same broadcast argmin, and
    the probe join hits only the inverted lists — never a cross join.
    Everything (assignment, probing, ranking) is deterministic: cosine
    accumulates sequentially in double on both engines, ties break by
    id, so the full IVF pipeline hash-matches the oracle.

    Plan shape: the k=10 coarse quantizer is a once-per-(app, sf_dir)
    index artifact (_ivf_centroids) embedded as one cell literal, and
    per-vector cell ranking is a NARROW array_sort over 10 (negcos,
    cell) pairs — zero shuffles and zero broadcast jobs to assign the
    whole corpus (_ivf_probe_pairs). The only shuffle left is the
    final per-query top-k window over probe candidates; the probe
    side (queries × nprobe cells) is broadcast into the corpus-side
    join, so the corpus is never exchanged at all. Two crossJoin +
    row_number windows keyed on vec_id (assignment and probing) would
    cost a full corpus exchange each.
    """
    return _ivf_topk(spark, sf_dir, _ivf_centroids(spark, sf_dir))


# ------------- IVF index-quality audit
#
# The qa_lsh_recall_audit story applied to the OTHER ANN family: the
# numbers an index team reads before trusting an IVF layout — per-cell
# occupancy and its share of the corpus (imbalance = hot cells that
# serve most probes), and the cosine-to-own-centroid distribution
# (quantization quality: a cell whose members barely resemble its
# centroid routes probes badly). Reuses sim_search_ivf_topk's exact
# machinery: the once-per-(app, sf_dir) literal centroid artifact and
# the narrow array_sort assignment — the audit cannot drift from the
# index it audits.
#
# Determinism: occupancy is integer; the per-cell mean cosine
# accumulates ORDER-FREE via the lm_score tick pattern (each cosine —
# already a deterministic sequential fold over identical doubles in
# both engines — quantizes to integer 1e-6 ticks; the BIGINT tick sum
# is commutative; one division + 4dp round at the end); min/max are
# order-free by definition. share is n/total with total a window over
# the k-row cell table.
#
# Scale shape: one narrow assignment pass (zero shuffles — the
# centroid table is a literal), one map-side-combinable groupBy(cell)
# to k rows, one k-row window. The window's SinglePartition is the
# |cells|-bounded accounted shape. The register call follows
# ivf_audit_oracle_sql below.


def qa_ivf_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-quality audit over the embeddings table: one row per
    cell — occupancy, corpus share, and the cosine-to-own-centroid
    spread. Output: (cell, n_vectors, share, mean_cos, min_cos,
    max_cos)."""
    from pyspark.sql import Window

    e = _embs(spark, sf_dir)
    best = F.element_at(_ranked_cells(F.col("cells")), 1)
    assign = e.withColumn("cells", _cells_lit(_ivf_centroids(spark, sf_dir))).select(
        best["cell"].alias("cell"),
        (-best["negcos"]).alias("cos_own"),
    )
    # min/max are taken over the SAME tick space as the mean (the
    # quantization is monotone, so min(tick) == tick(min)) — deriving
    # them from the raw doubles instead can break min <= mean <= max
    # when a cell extremum sits within 5e-7 of a 4dp half boundary:
    # mean would round from the tick while the extremum rounds from
    # the raw value, landing on opposite sides.
    ticks = F.floor(F.col("cos_own") * 1e6 + 0.5).cast("long")
    per_cell = assign.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(ticks).alias("tick_sum"),
        F.min(ticks).alias("min_tick"),
        F.max(ticks).alias("max_tick"),
    )
    wall = Window.partitionBy()
    return per_cell.select(
        "cell",
        "n_vectors",
        _r(
            F.col("n_vectors").cast("double")
            / F.sum("n_vectors").over(wall),
            6,
        ).alias("share"),
        _r(
            F.col("tick_sum").cast("double")
            / (F.col("n_vectors") * F.lit(1000000.0)),
            4,
        ).alias("mean_cos"),
        _r(F.col("min_tick").cast("double") / F.lit(1000000.0), 4).alias(
            "min_cos"
        ),
        _r(F.col("max_tick").cast("double") / F.lit(1000000.0), 4).alias(
            "max_cos"
        ),
    )


def ivf_audit_oracle_sql(dim: int = _DIM) -> str:
    """qa_ivf_index_audit as one DuckDB text — the centroid CTEs
    sim_search_ivf_topk registers (identical spellings), then the
    per-cell rollup with the tick-sum mean. Output rounding uses
    DuckDB's native round() — the Spark side's _r replicates it
    sign-exactly (cosines can in principle go negative), the same
    convention as the IVF top-k's cosine column."""
    return f"""
    WITH comp AS (
      SELECT vec_id, label, i + 1 AS pos,
             CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM embeddings, (SELECT unnest(range(0, {dim})) AS i)
    ),
    cent AS (
      SELECT label, pos, round(avg(v), 6) AS c
      FROM comp GROUP BY 1, 2
    ),
    centroids AS (
      SELECT label AS cell, list(c ORDER BY pos) AS cvec
      FROM cent GROUP BY label
    ),
    assign AS (
      SELECT cell, cos_own FROM (
        SELECT c.cell,
               list_cosine_similarity(e.embedding::DOUBLE[], c.cvec)
                 AS cos_own,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                                 c.cvec) DESC, c.cell) AS rn
        FROM embeddings e, centroids c
      ) WHERE rn = 1
    ),
    per_cell AS (
      SELECT cell,
             CAST(count(*) AS BIGINT) AS n_vectors,
             CAST(sum(CAST(floor(cos_own * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS tick_sum,
             min(CAST(floor(cos_own * 1e6 + 0.5) AS BIGINT)) AS min_tick,
             max(CAST(floor(cos_own * 1e6 + 0.5) AS BIGINT)) AS max_tick
      FROM assign GROUP BY 1
    )
    SELECT cell, n_vectors,
           round(CAST(n_vectors AS DOUBLE) / sum(n_vectors) OVER (), 6)
             AS share,
           round(CAST(tick_sum AS DOUBLE) / (n_vectors * 1000000.0), 4)
             AS mean_cos,
           round(CAST(min_tick AS DOUBLE) / 1000000.0, 4) AS min_cos,
           round(CAST(max_tick AS DOUBLE) / 1000000.0, 4) AS max_cos
    FROM per_cell
    """


# r13 promotion of the r13 preview — register call after the oracle.
register(
    "qa_ivf_index_audit",
    oracle=ivf_audit_oracle_sql(),
    survey="north-star: IVF index-quality audit (per-cell occupancy, "
    "share, cosine-to-own-centroid spread)",
)(qa_ivf_index_audit)


# ------------- product quantization (round-13 late previews)
#
# The missing piece between IVF and a production 100 TB vector index:
# IVF-PQ (Jégou, Douze, Schmid 2011 — "Product Quantization for
# Nearest Neighbor Search"). Vectors are split into M=4 subspaces of
# dim/M=16 components; each subspace has its own small codebook and a
# vector is stored as M one-byte codes — a 64-float embedding becomes
# 4 bytes plus the coarse cell id, the compression that lets the
# inverted lists of a trillion-vector index live in RAM. Here the
# per-subspace codebooks are SLICES of the IVF coarse-centroid
# artifact (_ivf_centroids — k=10 codes per subspace): deterministic,
# already 6dp-pinned cross-engine, and exactly the "shared coarse
# structure" shortcut a synthetic-label corpus affords; a real
# deployment swaps in per-subspace k-means codebooks behind the same
# literal-artifact seam (the documented sim_search_ivf_topk scale
# path).
#
# Determinism is INTEGER, not float: component values and codebook
# entries are both quantized to 1e-6 ticks (floor-form on identical
# doubles — the lm_score pattern), so every subspace distance is a
# BIGINT sum of squared tick differences — exact, order-free, and
# identical in both engines by construction; ties break by code id.
# Tick headroom: components ∈ [-0.6, 0.6] ⇒ per-component diff² ≤
# ~1.4e12, ×16 components ≤ ~2.3e13 per distance — far inside BIGINT,
# and the audit's per-(subspace, code) distortion sums stay ≤ ~1e17
# even at 10^4 vectors per code.
#
# Scale shape: `emb_pq_codes` (the index-build data path) is a PURE
# MAP — the codebook rides the plan as a literal, every (vector,
# subspace) assignment is a narrow array fold, and the long output is
# an in-row posexplode: ZERO exchanges of any kind (test-pinned).
# `qa_pq_distortion` (the index-QA path) adds exactly one
# map-side-combinable groupBy to M·k rows. Registered late in r13
# (each register call follows the oracle it captures; gate-verified
# at both SFs + the adversarial session first).

_PQ_M = 4
_PQ_SUB = _DIM // _PQ_M


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list:
    """Per-subspace integer-tick codebooks sliced from the IVF
    centroid artifact: codebooks[m] = sorted [(code, [tick]*_PQ_SUB)].
    Tick = floor(c*1e6 + 0.5) computed in Python doubles — the
    IDENTICAL IEEE expression the oracle runs in SQL, so the embedded
    literals match the oracle's recomputation bit-for-bit."""
    import math

    cells = _ivf_centroids(spark, sf_dir)
    return [
        [
            (
                cell,
                [
                    int(math.floor(v * 1e6 + 0.5))
                    for v in vec[m * _PQ_SUB : (m + 1) * _PQ_SUB]
                ],
            )
            for cell, vec in cells
        ]
        for m in range(_PQ_M)
    ]


# The ONE spelling of the tick quantization + tick distance, as
# generated SQL text (r15): the PQ consumers build 40–80 tick-distance
# expressions per plan, and the former Column-API spelling cost ~15k
# py4j round trips (~3 s of driver-side Python per call, profiled).
# One generated expr string is one round trip; the SQL functions are
# the IDENTICAL engine primitives, so the analyzed plan (and every
# byte anchor) is unchanged.


def _pq_tx_sql(m: int) -> str:
    return (
        f"transform(slice(embedding, {m * _PQ_SUB + 1}, {_PQ_SUB}), "
        "v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0D + 0.5D) "
        "AS BIGINT))"
    )


def _pq_d2_sql(tx: str, ticks: str) -> str:
    """Squared tick distance between two BIGINT tick-vector SQL
    expressions — the identical zip_with/aggregate fold at any ticks
    source (r15 rendered a literal tick list here; r16 callers pass
    the lambda-bound codebook entry's `ticks` field)."""
    return (
        f"aggregate(zip_with({tx}, {ticks}, "
        "(a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), "
        "(acc, v) -> acc + v)"
    )


def _pq_cb_sql(codebooks: list, m: int) -> str:
    """Subspace m's codebook [(code, ticks)] as ONE constant-foldable
    from_json literal (r16; see _fold_idx_sql) — the analyzed tree no
    longer carries k·sub tick nodes. Asserting non-empty closes the
    ADVICE r15 latent edge (an empty codebook list would previously
    have generated invalid concat())."""
    if not codebooks or not codebooks[m]:
        raise ValueError("PQ codebooks must be non-empty per subspace")
    return _fold_idx_sql(
        [
            {"code": int(code), "ticks": [int(t) for t in ticks]}
            for code, ticks in codebooks[m]
        ],
        "ARRAY<STRUCT<code: INT, ticks: ARRAY<BIGINT>>>",
    )


def _pq_assign_frame(e: DataFrame, codebooks: list) -> DataFrame:
    """PQ code assignment over a (vec_id, embedding) frame: one row
    per (vec_id, subspace) — (vec_id, subspace, code, d2_ticks),
    d2_ticks the squared tick-space distance to the chosen code.
    Narrow end to end: zero exchanges.

    r15 shape: the per-subspace tick vector is LAMBDA-BOUND (the
    chunk_cdc let idiom) — embedding the `tx` text into every code's
    d2 expression made the O(sub) tick conversion run once per CODE
    per row (k× waste) and carried k copies of the tx subtree through
    parse/analysis (plan 46,954 → 39,597 chars, transform() 80 → 16;
    exec 0.223 → 0.152 s at sf0.1, results bit-identical).

    r16 shape: the codebook VALUES left the expression tree too — one
    from_json literal per subspace (_pq_cb_sql), lambda-bound once
    (cbm), with the scored per-code structs built by ONE transform
    over it. Catalyst folds the from_json into the identical constant
    the unrolled form held, so per-row arithmetic — the same
    zip_with/aggregate tick distance per code, the same array_sort
    (d2, code) argmin, ties by code id — is unchanged; only the
    analyzed tree (and hence per-op analysis cost) shrinks from
    O(M·k·sub) to O(M)."""
    per_sub = []
    for m in range(len(codebooks)):
        tx = _pq_tx_sql(m)
        scored = (
            "transform(cbm, ce -> named_struct("
            f"'d2', {_pq_d2_sql('txv', 'ce.ticks')}, 'code', ce.code))"
        )
        # array_sort on (d2, code) structs = min by distance, ties by
        # code id — the oracle's ORDER BY d2, code. THREE let levels:
        # cbm binds the subspace codebook once, txv the tick vector
        # once, b the argmin struct once (extracting 'code' and 'd2'
        # from an unbound best expression re-evaluated the whole
        # scored sort per field).
        per_sub.append(
            F.expr(
                f"element_at(transform(array({_pq_cb_sql(codebooks, m)}), "
                f"cbm -> element_at(transform(array({tx}), txv -> "
                f"element_at(transform("
                f"array(element_at(array_sort({scored}), 1)), "
                f"b -> named_struct('subspace', {m}, "
                "'code', b.code, 'd2_ticks', b.d2)), 1)), 1)), 1)"
            )
        )
    return e.select(
        "vec_id", F.explode(F.array(*per_sub)).alias("s")
    ).select(
        "vec_id",
        F.col("s.subspace").cast("int").alias("subspace"),
        F.col("s.code").cast("int").alias("code"),
        F.col("s.d2_ticks").cast("bigint").alias("d2_ticks"),
    )


def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment over the embeddings table
    (the IVF-PQ index-build data path; registered r13, r13 late
    preview). Output: (vec_id, subspace, code, d2_ticks) — M rows per
    vector."""
    return _pq_assign_frame(
        _embs(spark, sf_dir), _pq_codebooks(spark, sf_dir)
    )


# the tick-space assignment chain as one shared SQL text: centroids
# recomputed exactly as the IVF oracles spell them, subspace =
# (pos-1)//_PQ_SUB, distances as BIGINT tick sums
def _pq_assign_sql(dim: int = _DIM, sub: int = _PQ_SUB) -> str:
    return f"""
    WITH comp AS (
      SELECT vec_id, label, i + 1 AS pos,
             CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM embeddings, (SELECT unnest(range(0, {dim})) AS i)
    ),
    cent AS (
      SELECT label AS code, pos, round(avg(v), 6) AS c
      FROM comp GROUP BY 1, 2
    ),
    tx AS (
      SELECT vec_id, pos,
             CAST((pos - 1) // {sub} AS INTEGER) AS subspace,
             CAST(floor(v * 1e6 + 0.5) AS BIGINT) AS t
      FROM comp
    ),
    tc AS (
      SELECT code, pos, CAST(floor(c * 1e6 + 0.5) AS BIGINT) AS t
      FROM cent
    ),
    d2 AS (
      SELECT x.vec_id, x.subspace, c.code,
             CAST(sum((x.t - c.t) * (x.t - c.t)) AS BIGINT) AS d2
      FROM tx x JOIN tc c ON c.pos = x.pos
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT vec_id, subspace, code, d2,
             row_number() OVER (PARTITION BY vec_id, subspace
                                ORDER BY d2, code) AS rn
      FROM d2
    ),
    assign AS (
      SELECT vec_id, subspace, CAST(code AS INTEGER) AS code,
             d2 AS d2_ticks
      FROM best WHERE rn = 1
    )
    """


def pq_codes_oracle_sql() -> str:
    """emb_pq_codes as one DuckDB text — the shared assignment chain,
    read out whole."""
    return (
        _pq_assign_sql()
        + "SELECT vec_id, subspace, code, d2_ticks FROM assign"
    )


# r13 late promotion — register call after the oracle.
register(
    "emb_pq_codes",
    oracle=pq_codes_oracle_sql,
    survey="north-star: product-quantization code assignment "
    "(IVF-PQ index build; pure map, integer tick distances)",
)(emb_pq_codes)


def qa_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook-quality audit: one row per (subspace, code) —
    occupancy and the mean/max squared quantization distance in
    original units (ticks² / 1e12; registered r13, r13 late preview).
    Output: (subspace, code, n_vectors, mean_sqdist, max_sqdist)."""
    codes = _pq_assign_frame(
        _embs(spark, sf_dir), _pq_codebooks(spark, sf_dir)
    )
    g = codes.groupBy("subspace", "code").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum("d2_ticks").cast("bigint").alias("sum_d2"),
        F.max("d2_ticks").cast("bigint").alias("max_d2"),
    )
    return g.select(
        "subspace",
        "code",
        "n_vectors",
        _r(
            F.col("sum_d2").cast("double")
            / (F.col("n_vectors").cast("double") * 1e12),
            6,
        ).alias("mean_sqdist"),
        _r(F.col("max_d2").cast("double") / 1e12, 6).alias("max_sqdist"),
    )


def pq_distortion_oracle_sql() -> str:
    """qa_pq_distortion as one DuckDB text — the shared assignment
    chain plus one rollup."""
    from nyc_traffic_insight_spark.functions.rounding import r6_sql

    return (
        _pq_assign_sql()
        + f"""
    SELECT subspace, code,
           CAST(count(*) AS BIGINT) AS n_vectors,
           {r6_sql("CAST(sum(d2_ticks) AS DOUBLE) / (count(*) * 1e12)")}
             AS mean_sqdist,
           {r6_sql("CAST(max(d2_ticks) AS DOUBLE) / 1e12")} AS max_sqdist
    FROM assign GROUP BY 1, 2
    """
    )


# r13 late promotion — register call after the oracle.
register(
    "qa_pq_distortion",
    oracle=pq_distortion_oracle_sql,
    survey="north-star: PQ codebook-quality audit (per-(subspace, "
    "code) occupancy + quantization distortion)",
)(qa_pq_distortion)


# --- ADC (asymmetric distance computation) search over the PQ codes:
# the query stays exact, the corpus is its M codes, and the distance
# is a LUT sum — sum over subspaces of dist(query_subvector,
# codebook[m][code_m(x)]). This is the compressed-domain scan at the
# heart of IVF-PQ serving (Jégou et al. 2011 §IV); here it scans the
# WHOLE corpus (the "ADC without IVF" baseline — the production form
# restricts the scan to nprobe inverted lists, the documented
# sim_search_ivf_topk composition). The per-query LUT is M·k = 40
# BIGINT entries — built as a k-row-per-subspace frame and BROADCAST
# onto the corpus codes (the corpus is never exchanged); the only
# shuffles are the (query, neighbor) partial-sum groupBy (n·|Q| short
# integer rows) and the per-query top-k window. Every distance is the
# assign chain's integer tick arithmetic — the oracle literally
# reuses its d2 relation as the LUT. Registered late in r13 (the
# register call follows pq_adc_oracle_sql below).

_ADC_NQUERY = 5  # query set: vec_id < 5, the sim_search convention
_ADC_TOPK = 3


def _pq_lut_frame(e: DataFrame, codebooks: list) -> DataFrame:
    """All-code tick distances for the query set: one row per
    (query_id, subspace, code) — the in-row explode of the assign
    machine WITHOUT its argmin (M·k rows per query). Distances via
    the SHARED _pq_tx_sql / _pq_d2_sql spellings — the assign/LUT
    identity test_pq_adc_rank1_is_the_self_distortion relies on."""
    # per-subspace arrays off the per-subspace from_json codebook
    # literal (r16), with the codebook (cbm) and tick vector (txv)
    # lambda-bound once each (the _pq_assign_frame let shape),
    # concatenated then exploded
    per_m = []
    for m in range(len(codebooks)):
        tx = _pq_tx_sql(m)
        per_m.append(
            f"element_at(transform(array({_pq_cb_sql(codebooks, m)}), "
            f"cbm -> element_at(transform(array({tx}), txv -> "
            f"transform(cbm, ce -> named_struct('subspace', {m}, "
            f"'code', ce.code, "
            f"'d2', {_pq_d2_sql('txv', 'ce.ticks')}))), 1)), 1)"
        )
    return e.select(
        F.col("vec_id").alias("query_id"),
        F.explode(F.expr("concat({})".format(", ".join(per_m)))).alias(
            "l"
        ),
    ).select(
        "query_id",
        F.col("l.subspace").cast("int").alias("subspace"),
        F.col("l.code").cast("int").alias("code"),
        F.col("l.d2").cast("bigint").alias("d2"),
    )


def sim_search_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over the PQ-compressed corpus: each query (vec_id <
    5, exact) against every vector's M codes via the broadcast LUT
    (registered r13; r13 late preview). Output: (query_id,
    neighbor_id, rank, adc_d2_ticks) — top-3 per query, ties by
    neighbor id (the query itself ranks by its own quantization
    distortion)."""
    from pyspark.sql import Window

    e = _embs(spark, sf_dir)
    cb = _pq_codebooks(spark, sf_dir)
    codes = _pq_assign_frame(e, cb).select(
        F.col("vec_id").alias("neighbor_id"), "subspace", "code"
    )
    lut = _pq_lut_frame(e.filter(F.col("vec_id") < _ADC_NQUERY), cb)
    approx = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").cast("bigint").alias("adc_d2_ticks"))
    )
    w = Window.partitionBy("query_id").orderBy(
        "adc_d2_ticks", "neighbor_id"
    )
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _ADC_TOPK)
        .select("query_id", "neighbor_id", "rank", "adc_d2_ticks")
    )


def pq_adc_oracle_sql(
    nquery: int = _ADC_NQUERY, topk: int = _ADC_TOPK
) -> str:
    """sim_search_pq_adc as one DuckDB text — the shared assign chain
    read twice: `assign` as the corpus codes, `d2` (pre-argmin)
    restricted to the query set as the LUT."""
    return (
        _pq_assign_sql()
        + f""",
    approx AS (
      SELECT l.vec_id AS query_id, a.vec_id AS neighbor_id,
             CAST(sum(l.d2) AS BIGINT) AS adc_d2_ticks
      FROM assign a
      JOIN d2 l ON l.subspace = a.subspace AND l.code = a.code
      WHERE l.vec_id < {nquery}
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, neighbor_id, adc_d2_ticks,
             CAST(row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY adc_d2_ticks, neighbor_id) AS INTEGER)
               AS rank
      FROM approx
    )
    SELECT query_id, neighbor_id, rank, adc_d2_ticks
    FROM ranked WHERE rank <= {topk}
    """
    )


# r13 late promotion — register call after the oracle.
register(
    "sim_search_pq_adc",
    oracle=pq_adc_oracle_sql,
    survey="north-star: ADC compressed-domain top-k over PQ codes "
    "(labeled whole-corpus baseline; broadcast LUT)",
)(sim_search_pq_adc)


# --- IVF-PQ serving, composed end to end: the coarse quantizer
# routes each query to its nprobe nearest cells (sim_search_ivf_topk's
# machinery, identical expression spellings), and ADC scores ONLY the
# vectors assigned there — the production path where the whole-corpus
# ADC scan above is the baseline. Candidate volume shrinks by
# ~|cells|/nprobe exactly as in the float IVF; the scored payload is
# codes, not vectors. Self-matches are excluded (the IVF top-k
# convention). Scale shape: the union of its parts — narrow coarse
# assignment + narrow code assignment on the corpus side (neither
# exchanges the corpus), the |Q|·nprobe probe table and the M·k-row
# LUT broadcast, one candidate equi-join on cell, one partial-sum
# groupBy, one per-query top-k window. The register call follows
# ivfpq_oracle_sql below.


def pipeline_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN serving: coarse probe (nprobe=2 cells) + ADC
    re-rank over the probed cells' PQ codes. Output: (query_id,
    neighbor_id, rank, adc_d2_ticks) — top-3 per query among probed
    cells, self excluded, ties by neighbor id."""
    from pyspark.sql import Window

    e = _embs(spark, sf_dir)
    cb = _pq_codebooks(spark, sf_dir)
    # the registered IVF operator's probe join, so the composition
    # cannot drift from it
    cand = _ivf_probe_pairs(e, _ivf_centroids(spark, sf_dir)).select(
        "query_id", "neighbor_id"
    )
    codes = _pq_assign_frame(e, cb).select(
        F.col("vec_id").alias("neighbor_id"), "subspace", "code"
    )
    lut = _pq_lut_frame(e.filter(F.col("vec_id") < _ADC_NQUERY), cb)
    approx = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").cast("bigint").alias("adc_d2_ticks"))
    )
    w = Window.partitionBy("query_id").orderBy(
        "adc_d2_ticks", "neighbor_id"
    )
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _ADC_TOPK)
        .select("query_id", "neighbor_id", "rank", "adc_d2_ticks")
    )


def ivfpq_oracle_sql(
    nquery: int = _ADC_NQUERY, topk: int = _ADC_TOPK, nprobe: int | None = None
) -> str:
    """pipeline_ann_ivfpq as one DuckDB text — the shared PQ assign
    chain (corpus codes + the pre-argmin d2 LUT) extended with the
    IVF coarse CTEs (identical spellings to sim_search_ivf_topk's
    oracle, reading `cent` back from the shared chain)."""
    np_ = _NPROBE if nprobe is None else nprobe
    return (
        _pq_assign_sql()
        + f""",
    centroids AS (
      SELECT code AS cell, list(c ORDER BY pos) AS cvec
      FROM cent GROUP BY code
    ),
    coarse AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               {_IVF_RANK_SQL}
        FROM embeddings e, centroids c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT e.vec_id, c.cell,
               {_IVF_RANK_SQL}
        FROM embeddings e, centroids c
        WHERE e.vec_id < {nquery}
      ) WHERE rn <= {np_}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN coarse a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    ),
    approx AS (
      SELECT cd.query_id, cd.neighbor_id,
             CAST(sum(l.d2) AS BIGINT) AS adc_d2_ticks
      FROM cand cd
      JOIN assign x ON x.vec_id = cd.neighbor_id
      JOIN d2 l ON l.vec_id = cd.query_id
               AND l.subspace = x.subspace AND l.code = x.code
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, neighbor_id, adc_d2_ticks,
             CAST(row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY adc_d2_ticks, neighbor_id) AS INTEGER)
               AS rank
      FROM approx
    )
    SELECT query_id, neighbor_id, rank, adc_d2_ticks
    FROM ranked WHERE rank <= {topk}
    """
    )


# r13 late promotion — register call after the oracle.
register(
    "pipeline_ann_ivfpq",
    oracle=ivfpq_oracle_sql,
    survey="north-star: IVF-PQ ANN serving composed (coarse probe + "
    "ADC over probed inverted lists)",
)(pipeline_ann_ivfpq)


# ---------------------------------------------------------- text analysis

_STOPWORDS = ["the", "a", "of", "to", "and", "is", "in", "that", "it", "on"]


@register(
    "text_token_count",
    survey="north-star: whitespace + BPE-ish regex token counting",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
             AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two tokenizers: whitespace split and a BPE-ish regex (letter runs
    / digit runs / single punctuation) — both pure JVM regex, no UDF."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias(
            "n_ws_tokens"
        ),
        F.size(
            F.regexp_extract_all(
                F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
            )
        )
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
    )


@register(
    "text_quality_score",
    survey="north-star: document quality scoring (length/stopword/punct ratios)",
    oracle=rf"""
    WITH feats AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS n_chars_d,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n_tok,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                      t -> list_contains({_STOPWORDS!r}, t))) AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
               AS n_punct
      FROM documents
    )
    SELECT doc_id,
           round(n_stop / n_tok, 6) AS stopword_ratio,
           round(n_punct / n_chars_d, 6) AS punct_ratio,
           round(n_chars_d / n_tok, 6) AS mean_token_len,
           round(0.4 * least(n_tok / 100.0, 1.0)
                 + 0.4 * least(n_stop / n_tok * 5, 1.0)
                 + 0.2 * (1 - least(n_punct / n_chars_d * 10, 1.0)), 6)
             AS quality_score
    FROM feats
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score from length, stopword density and
    punctuation density (the usual pre-training quality gates), all as
    JVM expressions over the tokenized text."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    low_toks = F.split(F.lower("text"), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    # r16 single-evaluation shape: the O(len) scans are computed once
    # per row behind the Generate barrier (explode(array(struct)) —
    # see gopher_rules_frame); the four output ratios then read bound
    # attributes instead of re-inlining the scans (~18 split sites in
    # the r15 plan). Values identical.
    counts = F.struct(
        F.size(toks).cast("double").alias("ntok"),
        F.size(F.filter(low_toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("double")
        .alias("nstop"),
        F.length("text").cast("double").alias("nchars"),
        F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", ""))
        .cast("double")
        .alias("npunct"),
    )
    d = d.select("doc_id", F.explode(F.array(counts)).alias("g"))
    n_tok = F.col("g.ntok")
    n_stop = F.col("g.nstop")
    n_chars = F.col("g.nchars")
    n_punct = F.col("g.npunct")
    quality = (
        0.4 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.4 * F.least(n_stop / n_tok * 5, F.lit(1.0))
        + 0.2 * (1 - F.least(n_punct / n_chars * 10, F.lit(1.0)))
    )
    return d.select(
        "doc_id",
        _r(n_stop / n_tok, 6).alias("stopword_ratio"),
        _r(n_punct / n_chars, 6).alias("punct_ratio"),
        _r(n_chars / n_tok, 6).alias("mean_token_len"),
        _r(quality, 6).alias("quality_score"),
    )


# ------------- Gopher quality rules (round-13 preview)
#
# The rule-based document gate of Rae et al. 2021 (Gopher, Appendix
# A1.1), the filter family MassiveText/RefinedWeb/FineWeb all run
# BEFORE any learned quality model: hard bounds on word count and
# mean word length, a minimum fraction of words containing an
# alphabetic character, and a minimum stop-word hit count. Each rule
# is emitted as its own boolean next to the measured feature (the
# operations team reads WHICH rule fired, not just the verdict), plus
# the conjunction keep flag. Thresholds are the paper's shape scaled
# to this fixture's 10–99-word documents (the paper's 50..100k word
# bound becomes 20..80 so both branches of every rule carry corpus
# weight; the alpha rule is vacuous-true on the all-alpha synthetic
# text and priced at zero — kept because the OPERATOR must ship it).
#
# Determinism: counts are integers; the two ratios are single
# divisions of identical BIGINTs (no accumulation order), rounded
# floor-form 6dp, and every boolean compares the ROUNDED value (the
# NOTES r5 rule: derive comparisons from already-rounded columns).
# Scale shape: pure map over the documents scan — zero shuffles, no
# UDF, everything inside whole-stage codegen. Registered r13 (the
# register call follows gopher_rules_oracle_sql below).

_GOPHER_MIN_WORDS = 20
_GOPHER_MAX_WORDS = 80
_GOPHER_MIN_MEAN_LEN = 3.0
_GOPHER_MAX_MEAN_LEN = 10.0
_GOPHER_MIN_ALPHA_RATIO = 0.8
_GOPHER_MIN_STOPWORDS = 2


def gopher_rules_frame(d: DataFrame) -> DataFrame:
    """The rule gate over any (doc_id, text) frame — shared by
    text_gopher_rules and the composed pipeline_pretrain_order.

    r16 single-evaluation shape: the four O(len) text scans (two
    splits, the alpha/stopword filters, the whitespace strip) are
    computed ONCE per row into a struct materialized behind a
    Generate barrier — ``explode(array(struct))``. CollapseProject
    inlines a withColumn expression into every consumer (the r15
    lesson), but it cannot collapse a Project INTO a Generate's
    input, so the generator output is a bound attribute and every
    downstream column (ten of them; `keep` alone referenced all
    four counts) is a field read. The r15 form re-evaluated the
    splits ~19× per row (plan: 41 `split(` sites); this form runs
    each scan once or twice — ``toks`` is still split for both the
    word count and the alpha filter (plan: 3 `split(` sites). Values
    are bit-identical — the per-column expressions are unchanged,
    only their shared subterms are evaluated fewer times."""
    toks = F.split(F.trim("text"), r"\s+")
    low_toks = F.split(F.lower("text"), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    # total word characters via whitespace strip — robust to any run
    # of separators, same spelling both engines
    counts = F.struct(
        F.size(toks).cast("bigint").alias("nw"),
        F.size(F.filter(toks, lambda w: w.rlike("[a-zA-Z]")))
        .cast("bigint")
        .alias("na"),
        F.size(F.filter(low_toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("bigint")
        .alias("ns"),
        F.length(F.regexp_replace("text", r"\s", ""))
        .cast("bigint")
        .alias("nc"),
    )
    g = d.select("doc_id", F.explode(F.array(counts)).alias("g"))
    n_words = F.col("g.nw")
    n_alpha = F.col("g.na")
    n_stop = F.col("g.ns")
    n_wchars = F.col("g.nc")
    mean_len = _r(n_wchars.cast("double") / n_words, 6)
    alpha_ratio = _r(n_alpha.cast("double") / n_words, 6)
    ok_wc = (n_words >= _GOPHER_MIN_WORDS) & (n_words <= _GOPHER_MAX_WORDS)
    ok_ml = (mean_len >= _GOPHER_MIN_MEAN_LEN) & (
        mean_len <= _GOPHER_MAX_MEAN_LEN
    )
    ok_ar = alpha_ratio >= _GOPHER_MIN_ALPHA_RATIO
    ok_sw = n_stop >= _GOPHER_MIN_STOPWORDS
    return g.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_stop.alias("n_stop"),
        ok_wc.alias("ok_word_count"),
        ok_ml.alias("ok_mean_word_len"),
        ok_ar.alias("ok_alpha_ratio"),
        ok_sw.alias("ok_stopwords"),
        (ok_wc & ok_ml & ok_ar & ok_sw).alias("keep"),
    )


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document gate: per-rule booleans + keep flag over
    the documents table (registered r13; r13 preview). Output:
    (doc_id, n_words, mean_word_len, alpha_word_ratio, n_stop,
    ok_word_count, ok_mean_word_len, ok_alpha_ratio, ok_stopwords,
    keep)."""
    return gopher_rules_frame(_docs(spark, sf_dir))


def gopher_rules_oracle_sql(table: str = "documents") -> str:
    """text_gopher_rules as one DuckDB text — identical feature
    spellings, booleans compared on the rounded ratios."""
    from nyc_traffic_insight_spark.functions.rounding import r6_sql

    mean_len = r6_sql(
        "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)"
        " / len(regexp_split_to_array(trim(text), '\\s+'))"
    )
    alpha_ratio = r6_sql(
        "CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),"
        " w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)"
        " / len(regexp_split_to_array(trim(text), '\\s+'))"
    )
    return rf"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_words,
             {mean_len} AS mean_word_len,
             {alpha_ratio} AS alpha_word_ratio,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                      t -> list_contains({_STOPWORDS!r}, t))) AS BIGINT)
               AS n_stop
      FROM {table}
    )
    SELECT doc_id, n_words, mean_word_len, alpha_word_ratio, n_stop,
           (n_words >= {_GOPHER_MIN_WORDS}
            AND n_words <= {_GOPHER_MAX_WORDS}) AS ok_word_count,
           (mean_word_len >= {_GOPHER_MIN_MEAN_LEN}
            AND mean_word_len <= {_GOPHER_MAX_MEAN_LEN})
             AS ok_mean_word_len,
           (alpha_word_ratio >= {_GOPHER_MIN_ALPHA_RATIO})
             AS ok_alpha_ratio,
           (n_stop >= {_GOPHER_MIN_STOPWORDS}) AS ok_stopwords,
           (n_words >= {_GOPHER_MIN_WORDS}
            AND n_words <= {_GOPHER_MAX_WORDS}
            AND mean_word_len >= {_GOPHER_MIN_MEAN_LEN}
            AND mean_word_len <= {_GOPHER_MAX_MEAN_LEN}
            AND alpha_word_ratio >= {_GOPHER_MIN_ALPHA_RATIO}
            AND n_stop >= {_GOPHER_MIN_STOPWORDS}) AS keep
    FROM feats
    """


# r13 promotion of the r13 preview — register call after the oracle.
register(
    "text_gopher_rules",
    oracle=gopher_rules_oracle_sql(),
    survey="north-star: Gopher (Rae et al. 2021, A1.1) quality-rule "
    "document gate (pure map, zero shuffles)",
)(text_gopher_rules)


# language marker words; the vote is the operator under test (the corpus
# is synthetic so the marker sets are what matters, not linguistics).
_LANG_MARKERS = {
    "en": ["the", "a", "of", "to", "and"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "des", "et", "une"],
}


@register(
    "text_lang_id",
    survey="north-star: n-gram/stopword language-ID heuristic",
    oracle=f"""
    WITH markers (lang_guess, marker) AS (
      VALUES {", ".join(f"('{lang}', '{m}')" for lang, ms in _LANG_MARKERS.items() for m in ms)}
    ),
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    votes AS (
      SELECT t.doc_id, m.lang_guess, count(*) AS hits
      FROM toks t JOIN markers m ON t.tok = m.marker
      GROUP BY 1, 2
    ),
    best AS (
      SELECT doc_id, lang_guess, hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lang_guess) AS rn
      FROM votes
    )
    SELECT d.doc_id,
           coalesce(b.lang_guess, 'unknown') AS lang_pred,
           CAST(coalesce(b.hits, 0) AS BIGINT) AS marker_hits
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word voting language ID: tokenize, join a broadcast marker
    dim, count hits per language, argmax (ties broken lexicographically),
    'unknown' when no marker hits."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    )
    markers = F.broadcast(
        d.sparkSession.createDataFrame(
            [(lang, m) for lang, ms in _LANG_MARKERS.items() for m in ms],
            "lang_guess STRING, marker STRING",
        )
    )
    votes = (
        toks.join(markers, toks.tok == markers.marker)
        .groupBy("doc_id", "lang_guess")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.col("lang_guess"))
    best = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return d.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("lang_guess", F.lit("unknown")).alias("lang_pred"),
        F.coalesce("hits", F.lit(0)).cast("bigint").alias("marker_hits"),
    )


@register(
    "text_fingerprint",
    survey="north-star: normalized content fingerprinting",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS norm_hash,
           md5(array_to_string(list_sort(list_distinct(
               regexp_split_to_array(lower(text), '\\s+'))), ' ')) AS bow_hash
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two fingerprints: whitespace-normalized content hash (catches
    formatting-only dupes) and sorted bag-of-words hash (catches
    reorderings). Both md5 → identical across engines."""
    d = _docs(spark, sf_dir)
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    bow = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.lower("text"), r"\s+"))), " "
    )
    return d.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.md5(bow).alias("bow_hash"),
    )


@register(
    "doc_stats_by_source",
    survey="north-star: corpus-level stats rollup",
    oracle="""
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents GROUP BY 1, 2
    """,
)
def doc_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            _r(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


# ------------------------------------------------------ count-min sketch

_CMS_D = 4  # hash rows
_CMS_W = 256  # buckets per row


@register(
    "sketch_count_min",
    survey="north-star: count-min sketch of token frequencies "
    "(mergeable sketch; deterministic md5 bucketing → full oracle)",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    cells AS (
      SELECT r.d AS row_id,
             ('0x' || substr(md5(CAST(r.d AS VARCHAR) || '_' || tok), 1, 8))::BIGINT
               % {_CMS_W} AS bucket
      FROM toks, (SELECT unnest(range(0, {_CMS_D})) AS d) r
    )
    SELECT row_id, bucket, CAST(count(*) AS BIGINT) AS total
    FROM cells GROUP BY 1, 2
    """,
)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream: d=4 md5-seeded
    hash rows × w=256 buckets; cell (r, b) totals every token whose
    r-th hash lands in b. Point-estimate(tok) = min over rows of its
    cells — always ≥ the true count (tests/test_sketches.py pins the
    property and the estimate error bound).

    The sketch IS a groupBy — the d×w table is tiny and mergeable
    (cells add), which is the whole point at 100 TB: per-partition
    sketches combine map-side, the shuffle carries ≤ d·w rows per
    partition, and the final table answers any point query without
    touching the corpus again."""
    d = _docs(spark, sf_dir)
    toks = d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
    cells = toks.select(
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("row_id"), "tok"
    ).select(
        "row_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("row_id").cast("string"), F.lit("_"), "tok")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _CMS_W
        ).alias("bucket"),
    )
    return cells.groupBy("row_id", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("total")
    )


@register(
    "sketch_heavy_hitters",
    survey="north-star: exact heavy hitters (top tokens) — the sketch's "
    "ground truth (A8-style top-k)",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1),
    ranked AS (
      SELECT tok, n, CAST(row_number() OVER (ORDER BY n DESC, tok) AS INTEGER)
               AS rnk
      FROM counts
    )
    SELECT tok, n, rnk FROM ranked WHERE rnk <= 20
    """,
)
def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 tokens (partial-agg groupBy + tiny global top-k) —
    the ground truth the count-min estimates are checked against."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    counts = (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.col("tok"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select("tok", "n", "rnk")
    )


# ---------------------------------------------- embedding storage ops


@register(
    "emb_normalize",
    survey="north-star: unit-norm embedding normalization (narrow map)",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                              x -> x * x))), 6) AS norm,
           round(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))
                 / greatest(list_sum(list_transform(embedding::DOUBLE[],
                                                    x -> x * x)), 1e-12), 6)
             AS unit_dot
    FROM embeddings
    """,
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization: per-vector norm plus the self-dot of the unit
    vector (≡1, computed through the normalized values — pins that the
    normalize-then-dot path is numerically sane). Fully narrow; at
    100 TB this runs inside the scan stage.

    r15 shape: the squared-norm aggregate is LAMBDA-BOUND (the
    chunk_cdc let idiom) — referenced three times as a plain column it
    was inlined per consumer (9 aggregate() occurrences in the
    optimized plan → 1), an O(dim) fold per reference per row."""
    e = _embs(spark, sf_dir)
    out = F.expr(
        "transform(array("
        "aggregate(embedding, CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
        "), s -> struct(sqrt(s) AS norm, "
        "s / greatest(s, CAST(1e-12 AS DOUBLE)) AS unit_dot))[0]"
    )
    return e.select("vec_id", out.alias("__o")).select(
        "vec_id",
        _r(F.col("__o.norm"), 6).alias("norm"),
        _r(F.col("__o.unit_dot"), 6).alias("unit_dot"),
    )


@register(
    "emb_quantize_int8",
    survey="north-star: int8 embedding quantization (per-vector scale)",
    oracle="""
    WITH scaled AS (
      SELECT vec_id,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
               AS scale_abs,
             embedding::DOUBLE[] AS emb
      FROM embeddings
    )
    SELECT vec_id, round(scale_abs, 6) AS scale_out,
           CAST(list_sum(list_transform(emb,
                x -> CASE WHEN x < 0
                     THEN -floor(abs(x) / scale_abs * 127 + 0.5)
                     ELSE floor(abs(x) / scale_abs * 127 + 0.5) END))
             AS BIGINT) AS q_sum,
           CAST(list_max(list_transform(emb,
                x -> CASE WHEN x < 0
                     THEN -floor(abs(x) / scale_abs * 127 + 0.5)
                     ELSE floor(abs(x) / scale_abs * 127 + 0.5) END))
             AS BIGINT) AS q_max
    FROM scaled
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization with a per-vector scale (the 4×
    storage shrink every embedding store applies): q = round(x/scale ·
    127), half away from zero on both engines. The query emits the
    scale and integer aggregates of the quantized vector — exact
    cross-engine values, no float hashing.

    r15 shape: emb / scale / q are LAMBDA-BOUND in a nested let (the
    chunk_cdc idiom). The column form referenced `scale` INSIDE the
    quantize lambda — the exact outer-reference trap the shingle
    builder documents: the O(dim) scale scan re-evaluated per ELEMENT
    (O(dim²)/row), and `q` was inlined into both its consumers
    (18 transform() occurrences in the optimized plan → 6; wall
    0.30 → 0.12 s at sf0.1, max rep 2.1 → 0.3 s). Per-element
    arithmetic is verbatim — results bit-identical."""
    e = _embs(spark, sf_dir)
    out = F.expr(
        "transform(array(transform(embedding, x -> CAST(x AS DOUBLE))), e -> "
        "transform(array(array_max(transform(e, x -> abs(x)))), s -> "
        "transform(array(transform(e, x -> IF(x < 0, "
        "-floor(abs(x) / s * 127 + 0.5), "
        "floor(abs(x) / s * 127 + 0.5)))), q -> "
        "struct(s AS scale, "
        "aggregate(q, CAST(0 AS BIGINT), (a, v) -> a + CAST(v AS BIGINT)) "
        "AS q_sum, "
        "CAST(array_max(q) AS BIGINT) AS q_max))[0])[0])[0]"
    )
    return e.select("vec_id", out.alias("__o")).select(
        "vec_id",
        _r(F.col("__o.scale"), 6).alias("scale_out"),
        F.col("__o.q_sum").alias("q_sum"),
        F.col("__o.q_max").alias("q_max"),
    )


# ------------------------------------------- composed text-prep pipeline


@register(
    "pipeline_text_prep",
    survey="north-star: composed prep pipeline — quality gate → lang "
    "gate → exact dedup → corpus stats (the end-to-end shape)",
    oracle="""
    WITH feats AS (
      SELECT doc_id, text, lang, source,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
               AS n_tok,
             CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
               AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS punct_ratio
      FROM documents WHERE text IS NOT NULL
    ),
    gated AS (
      SELECT * FROM feats WHERE n_tok >= 10 AND punct_ratio <= 0.2
        AND lang IN ('en', 'es', 'de', 'fr')
    ),
    deduped AS (
      SELECT md5(text) AS h, min(doc_id) AS keep_id, min(lang) AS lang,
             min(source) AS source, min(n_tok) AS n_tok
      FROM gated GROUP BY 1
    )
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM deduped GROUP BY 1, 2
    """,
)
def pipeline_text_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed shape every pre-training prep run has: quality gate
    (length + punctuation density) → language gate → exact dedup (keep
    lowest id per content hash) → per-(lang, source) corpus accounting.
    One narrow scan stage until the dedup shuffle on a 32-byte hash;
    the final rollup is map-side combinable."""
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    n_tok = F.size(F.split(F.trim("text"), r"\s+")).cast("double")
    punct = (
        F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", "")).cast("double")
        / F.length("text").cast("double")
    )
    gated = d.select("doc_id", "text", "lang", "source", n_tok.alias("n_tok")).filter(
        (n_tok >= 10)
        & (punct <= 0.2)
        & F.col("lang").isin("en", "es", "de", "fr")
    )
    deduped = gated.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keep_id"),
        F.min("lang").alias("lang"),
        F.min("source").alias("source"),
        F.min("n_tok").alias("n_tok"),
    )
    return deduped.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )


# ------------------------------- vectorized ANN scorer (pandas batch path)


_TICK = 1_000_000  # quantization scale for the exact-integer cosine


def _vectorized_topk_oracle() -> str:
    """Exact-integer cosine: each float32 component quantizes to BIGINT
    ticks (floor-form, ×10⁶); dot product and squared norms are then
    exact commutative integer sums — immune to numpy-pairwise vs
    SQL-sequential summation order — and the only float ops are two
    sqrts and one division on exact integers, bit-deterministic IEEE
    on both engines."""
    return f"""
    WITH t AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> CAST(CASE WHEN x >= 0
                              THEN floor(x * {_TICK} + 0.5)
                              ELSE -floor(-x * {_TICK} + 0.5) END
                         AS BIGINT)) AS ticks
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, ticks,
             sqrt(CAST(CAST(list_sum(list_transform(ticks, x -> x * x))
                            AS BIGINT) AS DOUBLE)) AS nrm
      FROM t
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(CAST(list_sum(list_transform(
                    list_zip(q.ticks, c.ticks), p -> p[1] * p[2]))
                  AS BIGINT) AS DOUBLE) / (q.nrm * c.nrm) AS cos_raw
      FROM n q JOIN n c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_raw DESC, neighbor_id)
                  AS INTEGER) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine, rnk
    FROM ranked WHERE rnk <= 10
    """


@register(
    "sim_search_topk_vectorized",
    survey="north-star: brute-force top-k via numpy-matmul mapInPandas "
    "(local top-k per batch → global merge; the throughput path)",
    oracle=_vectorized_topk_oracle(),
)
def sim_search_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query as sim_search_bruteforce_topk, executed the way a
    100 TB scorer actually runs: the query matrix broadcasts inside an
    Arrow-batched mapInPandas closure, every corpus batch scores ALL
    queries with one numpy matmul (BLAS-shaped, not per-element JVM
    eval), emits only its local top-k, and a tiny global window merges
    candidates. Shuffle volume is |queries|·k per partition regardless
    of corpus size.

    Oracled via exact-integer arithmetic: components quantize to
    BIGINT ticks (floor-form, ×10⁶), so the int64 matmul is exact and
    commutative — numpy's pairwise summation and the oracle's
    sequential fold produce THE SAME integer, and the two sqrts + one
    division that follow are deterministic IEEE ops. Ranking ties
    break on neighbor_id. (The raw-float form was rows-only for four
    rounds because the last-ulp summation-order difference could flip
    rank boundaries.)"""
    import numpy as np
    import pandas as pd

    e = _embs(spark, sf_dir)
    # Deliberate driver-side collect: the QUERY set (not the corpus) is
    # collected and broadcast into the mapInPandas closure. Legal only
    # because |queries| is small — the closure ships to every task, so
    # the contract is |queries|·dim·8B ≲ tens of MB, i.e. |queries| ≤
    # ~10⁴ at dim 64. _MAX_BROADCAST_QUERIES enforces it; beyond that,
    # the query set belongs in a broadcast join against IVF cells
    # (sim_search_ivf_topk), not in a closure.
    _MAX_BROADCAST_QUERIES = 10_000
    q_rows = (
        e.filter(F.col("vec_id") < 5)
        .limit(_MAX_BROADCAST_QUERIES + 1)
        .select("vec_id", "embedding")
        .collect()
    )
    if len(q_rows) > _MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"query set exceeds {_MAX_BROADCAST_QUERIES} vectors; "
            "collect-and-broadcast-into-closure is out of contract — "
            "use the IVF cell-join path instead"
        )
    def _ticks(mat: "np.ndarray") -> "np.ndarray":
        # floor-form quantization (matches the oracle's CASE and the
        # catalog's rounding.r — np.round would banker's-round .5)
        scaled = mat.astype(np.float64) * _TICK
        return np.where(
            scaled >= 0,
            np.floor(scaled + 0.5),
            -np.floor(-scaled + 0.5),
        ).astype(np.int64)

    q_ids = np.array([r["vec_id"] for r in q_rows])
    q_t = _ticks(np.array([r["embedding"] for r in q_rows], dtype=np.float64))
    q_nrm = np.sqrt((q_t * q_t).sum(axis=1).astype(np.float64))

    def score(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            c_t = _ticks(np.array(list(pdf["embedding"]), dtype=np.float64))
            c_nrm = np.sqrt((c_t * c_t).sum(axis=1).astype(np.float64))
            # int64 matmul: EXACT, so summation order cannot matter
            cos = (q_t @ c_t.T).astype(np.float64) / (
                q_nrm[:, None] * c_nrm[None, :]
            )
            top = min(_TOPK + 1, cos.shape[1])  # +1: self may be in batch
            # keep EVERYTHING >= the top-th score: exact ties at the
            # local cutoff must all survive to the global merge, or the
            # window's neighbor_id tie-break could pick a candidate a
            # batch silently dropped
            thresh = np.partition(cos, cos.shape[1] - top, axis=1)[
                :, cos.shape[1] - top
            ]
            out = []
            for qi in range(cos.shape[0]):
                for ci in np.nonzero(cos[qi] >= thresh[qi])[0]:
                    if ids[ci] != q_ids[qi]:
                        out.append((int(q_ids[qi]), int(ids[ci]), float(cos[qi, ci])))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "cos_raw"])

    return _cos_topk(
        e.select("vec_id", "embedding").mapInPandas(
            score, "query_id LONG, neighbor_id LONG, cos_raw DOUBLE"
        )
    )


# ----------------------------------------- k-means IVF (learned centroids)


def _kmeans_centroids(spark: SparkSession, sf_dir: str, k: int = 10):
    """Fit MLlib KMeans on the embedding column (array → ml vector) and
    return the centroids as plain python lists. At 100 TB the fit runs
    on a sample (KMeans is iterative over the full set otherwise);
    centroids are tiny and ride into the scoring plan as literals.

    The fitted centroids persist as a content-addressed disk artifact:
    a learned coarse quantizer is an INDEX — a real deployment trains
    it once per corpus and every session loads it; re-fitting 20
    LLoyd iterations per cold session was the dominant cold cost of
    the IVF tier (15+ s). Consumers pin
    centroid-independent invariants (recall floors, partition-function
    contracts), so a fit from a prior session with different task
    partitioning is exactly as valid as a fresh one."""

    def _build() -> list:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        e = _embs(spark, sf_dir).select(
            "vec_id",
            array_to_vector(
                F.col("embedding").cast("array<double>")
            ).alias("features"),
        )
        model = KMeans(k=k, seed=42, maxIter=20).fit(e)
        return [[float(x) for x in c] for c in model.clusterCenters()]

    return cached_json(
        "kmeans_centroids",
        sf_dir,
        ["embeddings"],
        {"k": k, "seed": 42, "maxIter": 20},
        _build,
    )


@register(
    "ml_kmeans",
    survey="M-extension: MLlib KMeans clustering over embeddings. "
    "Oracled as an audit (r7): the partition-function contract — k "
    "requested, exact corpus total, sizes summing back to it — is "
    "hash-checked; per-cluster sizes stay seeded-internal",
    oracle="""
    SELECT CAST(10 AS INTEGER) AS k_requested,
           CAST(count(*) AS BIGINT) AS n_vectors_total,
           TRUE AS sizes_sum_to_total
    FROM embeddings
    """,
)
def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans clustering audit: the MLlib clustering surface (the
    engine's ML coverage is otherwise regression-only). Per-cluster
    cardinalities depend on the seeded init AND the partitioning (the
    init samples per partition), so the hash pins the clustering's
    partition-function contract instead: every corpus vector is
    assigned to exactly one of the k cells — sizes sum back to the
    EXACT corpus count the oracle recomputes. Cluster sizes remain
    available via the transform itself; recall-oriented quality is
    pinned in tests/test_vectorized_ann.py's IVF tests."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = _embs(spark, sf_dir).select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    k = 10
    model = KMeans(k=k, seed=42, maxIter=20).fit(e)
    sizes = (
        model.transform(e)
        .groupBy(F.col("prediction").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    tot = sizes.agg(
        F.sum("n_vectors").cast("bigint").alias("assigned")
    ).first()["assigned"]
    n_corpus = e.count()
    return spark.createDataFrame(
        [(k, n_corpus, tot == n_corpus)],
        "k_requested int, n_vectors_total bigint, sizes_sum_to_total boolean",
    )


@register(
    "sim_search_ivf_kmeans",
    survey="north-star: IVF ANN with LEARNED (KMeans) coarse centroids. "
    "Oracled as an audit (r7): exact query set + per-query recall-floor "
    "booleans vs the value-oracled exact baseline; the retrieved "
    "neighbor ids stay centroid-dependent",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           TRUE AS retrieved_some, TRUE AS recall_floor_ok
    FROM embeddings WHERE vec_id < 5
    """,
)
def sim_search_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVF shape: coarse centroids LEARNED by KMeans
    (not the label shortcut of sim_search_ivf_topk), frozen into the
    plan as literals, then the same assign → probe → in-cell top-k
    pipeline. Everything after the fit is the oracle-checked IVF code
    path (_ivf_topk, which sim_search_ivf_topk runs) with a different
    centroid table; tests/test_vectorized_ann.py checks the top-k
    value-for-value against that entry's oracle text.

    The retrieved ids depend on the learned centroids (seed +
    partitioning), so the hash pins the retrieval CONTRACT: the query
    set is exact (vec_id < 5, recomputed by the oracle), every query
    retrieved candidates, and AGGREGATE recall@10 against the
    value-oracled exact baseline (sim_search_bruteforce_topk, built
    in-plan) clears 0.1 — half the ~0.2 random-candidate share at
    nprobe=2/10, and 3× under the worst aggregate measured across SFs
    (0.30 @ sf0.1, 0.46 @ sf0.001, 0.58 @ sf0.01). Per-query recall is
    the WRONG hashed invariant: it legitimately ranges 0.1–0.7 with
    the corpus draw (a single query flapped a local sf0.1 sweep),
    while the aggregate never approaches the floor; the sharper ≥0.3
    aggregate expectation stays pinned at smoke SF in
    tests/test_vectorized_ann.py. The raw top-k frame remains the
    _ivf_kmeans_topk helper."""
    return _ivf_kmeans_audit(spark, sf_dir)


def _ivf_kmeans_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_traffic_insight_spark.queries import REGISTRY

    topk = _ivf_kmeans_topk(spark, sf_dir)
    exact = REGISTRY["sim_search_bruteforce_topk"].builder(spark, sf_dir)
    hits = (
        topk.select("query_id", "neighbor_id")
        .join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # anchor on the EXACT query set, not on whatever topk returned —
    # a query that retrieved nothing must serialize as
    # retrieved_some=false (deriving per_q from topk.groupBy would just
    # drop its row and red the driver on row COUNT instead of on the
    # boolean the contract advertises)
    queries = _embs(spark, sf_dir).filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id")
    )
    per_q = (
        queries.join(
            topk.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ret")),
            "query_id",
            "left",
        )
        .join(hits, "query_id", "left")
        .na.fill(0, ["n_ret", "n_hits"])
    )
    n_exact = exact.count()
    n_hits_total = per_q.agg(F.sum("n_hits")).first()[0] or 0
    agg_ok = bool(n_exact > 0 and n_hits_total / n_exact >= 0.1)
    return per_q.select(
        "query_id",
        (F.col("n_ret") > 0).alias("retrieved_some"),
        F.lit(agg_ok).alias("recall_floor_ok"),
    )


def _ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw learned-centroid IVF top-k (the user-facing frame)."""
    return _ivf_topk(
        spark, sf_dir, list(enumerate(_kmeans_centroids(spark, sf_dir)))
    )


# ------------------------------------- dup-cluster connected components


def min_label_components(
    pairs: DataFrame, col_a: str, col_b: str, max_rounds: int = 20
) -> DataFrame:
    """Connected components of an undirected pair list by iterative
    min-label propagation — the scalable form of union-find on a
    shuffle engine:

      labels(v) = v; repeat: labels(v) = min(labels(v), labels(N(v)))

    Returns (v, label) with label = min vertex id of v's component.
    Each round is one join + one groupBy (edges shuffle on the same key
    every round — co-partitioned after the first); rounds needed =
    graph diameter. The loop is driver-controlled with an aggregate
    convergence check (label-sum fixpoint: labels only ever decrease,
    so the sum strictly decreases until converged; the previous round's
    sum rides a Python variable — ONE driver action per iteration, not
    two, VERDICT r1 "What's wrong" #4). A graph deeper than
    ``max_rounds`` RAISES instead of silently returning partial labels
    — near-dup clusters are shallow so the default never fires there,
    and a wrong-but-plausible component map is the worst failure mode
    a dedup pipeline can have. Differentially tested against Python
    union-find on adversarial graphs (paths, cycles, stars) in
    tests/test_textops_graph.py."""
    edges = materialize(
        pairs.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .unionByName(
            pairs.select(F.col(col_b).alias("a"), F.col(col_a).alias("b"))
        )
    )  # the loop reuses edges every round
    labels = materialize(
        edges.select(F.col("a").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(max_rounds):
        neigh = (
            edges.join(labels, edges.b == labels.v)
            .groupBy(F.col("a").alias("v2"))
            .agg(F.min("label").alias("nmin"))
        )
        labels = materialize(
            labels.join(neigh, labels.v == neigh.v2, "left")
            .select(
                "v",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
            )
        )
        new_sum = labels.agg(F.sum("label")).first()[0]
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum
    raise RuntimeError(
        f"min_label_components did not converge in {max_rounds} rounds "
        "(graph diameter exceeds the bound); raise max_rounds"
    )


@register(
    "dedup_connected_components",
    survey="north-star: connected components over near-dup pairs "
    "(iterative min-label propagation; dup-cluster formation)",
    # RECURSIVE must be declared on the first WITH of the whole chain
    oracle=_SIG_SQL.replace("WITH __words", "WITH RECURSIVE __words", 1)
    + _LSH_CANDS_SQL
    + """,
    cnt AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
    verified AS (
      SELECT c.doc1, c.doc2, count(*) AS common
      FROM candidates c
      JOIN shingles sa ON sa.doc_id = c.doc1
      JOIN shingles sb ON sb.doc_id = c.doc2 AND sb.s = sa.s
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT v.doc1, v.doc2
      FROM verified v
      JOIN cnt ca ON ca.doc_id = v.doc1
      JOIN cnt cb ON cb.doc_id = v.doc2
      WHERE CAST(v.common AS DOUBLE) / (ca.n + cb.n - v.common) >= 0.5
    ),
    edges AS (
      SELECT doc1 AS a, doc2 AS b FROM pairs
      UNION ALL SELECT doc2, doc1 FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS v FROM edges),
    reach(src, dst) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id, min(dst) AS component,
           CAST(count(*) AS BIGINT) AS component_reach
    FROM reach GROUP BY src
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group the verified near-dup pairs into clusters: component id =
    min doc_id reachable through pair edges (keep-one-per-cluster picks
    the component id). Iterative min-label propagation, the scalable
    form of union-find on a shuffle engine:

      labels(v) = v; repeat: labels(v) = min(labels(v), labels(N(v)))

    Each round is one join + one groupBy (edges shuffle on the same key
    every round — co-partitioned after the first); rounds needed =
    graph diameter (near-dup clusters are tiny, so a handful). The loop
    is driver-controlled with an aggregate convergence check, like
    every iterative algorithm on Spark (MLlib does the same). The
    oracle computes the same components with a recursive CTE and also
    returns each node's reachable-set size (pinning that propagation
    went to full closure, not one hop).
    """
    lsh = dedup_minhash_lsh(spark, sf_dir).select("doc1", "doc2")
    labels = min_label_components(lsh, "doc1", "doc2")
    # reach size per node (for the oracle's closure pin): nodes sharing
    # a component all reach the same set — its size is the component's
    comp_sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("csize"))
    return (
        labels.join(comp_sizes, "label")
        .select(
            F.col("v").alias("doc_id"),
            F.col("label").alias("component"),
            F.col("csize").cast("bigint").alias("component_reach"),
        )
    )


@register(
    "dedup_edit_distance",
    survey="north-star: exact Levenshtein verify on LSH candidate pairs "
    "(char-level near-dup measure beside token Jaccard)",
    oracle=_SIG_SQL
    + _LSH_CANDS_SQL
    + """
    SELECT c.doc1, c.doc2,
           CAST(levenshtein(d1.text, d2.text) AS BIGINT) AS edit_dist,
           CAST(greatest(length(d1.text), length(d2.text)) AS BIGINT)
             AS max_len
    FROM candidates c
    JOIN documents d1 ON d1.doc_id = c.doc1
    JOIN documents d2 ON d2.doc_id = c.doc2
    WHERE levenshtein(d1.text, d2.text)
          <= 0.2 * greatest(length(d1.text), length(d2.text))
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verify: exact Levenshtein over the LSH
    candidate pairs only (the O(n·m) DP would be absurd pairwise;
    bounded to candidates it is the precision pass token Jaccard can't
    give — catches single-character paraphrases). Distance ints are the
    same classic DP in both engines → exact hash match."""
    cands = _lsh_candidate_pairs(_shingle_sets_persisted(spark, sf_dir))
    d = _docs(spark, sf_dir).select("doc_id", "text")
    d1 = d.select(F.col("doc_id").alias("doc1"), F.col("text").alias("t1"))
    d2 = d.select(F.col("doc_id").alias("doc2"), F.col("text").alias("t2"))
    dist = F.levenshtein("t1", "t2")
    max_len = F.greatest(F.length("t1"), F.length("t2"))
    return (
        cands.join(d1, "doc1")
        .join(d2, "doc2")
        .filter(dist <= 0.2 * max_len)
        .select(
            "doc1",
            "doc2",
            dist.cast("bigint").alias("edit_dist"),
            max_len.cast("bigint").alias("max_len"),
        )
    )


# ----------------------------------------- training-set hygiene & packing

# Decontamination: a training corpus must not contain the eval set.
# Standard practice flags any training doc sharing a long n-gram with an
# eval doc (GPT-3 appendix C used 13-grams; The Pile and successors
# 8–13). The synthetic docs here average ~40 words from a small
# vocabulary, so the query uses the catalog's 3-word shingles to keep
# the collision structure non-trivial; the n is a constant in
# _SHINGLES_SQL / _shingle_sets and widening it changes nothing in the
# plan. "Eval set" is the deterministic doc_id % 97 == 0 slice.
_DECON_EVAL_MOD = 97


# ------------- DSIR importance weights (round-13 late preview)
#
# Data Selection via Importance Resampling (Xie et al. 2023): score
# every training document by how target-domain-like it is, as the
# log importance ratio of two hashed-unigram bag-of-words models —
# log w(doc) = Σ_occurrences [ln p_target(b) − ln q_train(b)] over
# the word's hash BUCKET b. The bucket table is FIXED at B=4096 rows
# (the paper's hashed-feature trick), so the feature space is bounded
# at ANY corpus size — raw-word vocabularies are not. "Target" is
# the catalog's standing eval slice (doc_id % _DECON_EVAL_MOD == 0);
# a real run points it at a quality corpus sample. Laplace-smoothed:
# p(b) = (tc_b+1)/(N_t+B), q(b) = (qc_b+1)/(N_q+B).
#
# Determinism: the per-bucket log-ratio is ONE shared expression over
# BIGINT counts — ln of integer-valued doubles, the lm_score
# exactness class (stable across engines for integer inputs; the
# tick quantization additionally tolerates sub-half-tick ulps) —
# quantized to 1e-6 ticks, and the per-doc weight is the order-free
# BIGINT tick sum (the ADVICE-r11 pattern, applied from birth).
# Scale shape: one map-side-combinable bucket groupBy (B-row table),
# one accounted one-row totals merge broadcast back, then one narrow
# broadcast join on the token stream + the per-doc groupBy — exactly
# lm_score_perplexity's accounted shapes. Registered late in r13 (the
# register call follows dsir_oracle_sql below).

_DSIR_B = 4096  # hashed-feature buckets (fixed at any corpus size)


def _dsir_bucket_col():
    """Word → bucket: the catalog's md5 64-bit hash (the minhash
    spelling) mod B — nonnegative, identical in both engines."""
    return (
        F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("bigint")
        % _DSIR_B
    )


def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR log importance weight per TRAIN document against the eval
    slice as the target domain (registered r13; r13 late preview).
    Output: (doc_id, n_tokens, log_weight) — higher = more
    target-like."""
    return _dsir_frame(_docs(spark, sf_dir))


def _dsir_frame(d: DataFrame) -> DataFrame:
    """The DSIR machine over a (doc_id, text) frame — factored so the
    synthetic direction test can feed a corpus with known target
    words."""
    is_target = F.col("doc_id") % _DECON_EVAL_MOD == 0
    toks = (
        d.select(
            "doc_id",
            is_target.alias("is_target"),
            F.explode(
                F.split(F.lower(F.trim("text")), r"\s+")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .select("doc_id", "is_target", _dsir_bucket_col().alias("b"))
    )
    counts = toks.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("bigint")
        .alias("tc"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1))
        .cast("bigint")
        .alias("qc"),
    )
    # global totals as a window over the B-row bucket table (r16;
    # VERDICT r15 #3): the separate `tot` aggregate + crossJoin
    # re-ran the counts subtree under a second broadcast build and
    # cost two extra AQE jobs per query — the whole-table window runs
    # inside the one ratio branch over exactly B bounded rows (the
    # accounted vsize-class one-row merge). Integer sums either way,
    # so the ticks are bit-identical (verified: full sorted-result
    # compare at sf0.1; interleaved A/B medians 1.38/1.29 →
    # 1.16/1.17 s).
    from pyspark.sql import Window as _W

    wall = _W.partitionBy()
    counts = counts.select(
        "b",
        "tc",
        "qc",
        F.sum("tc").over(wall).cast("bigint").alias("nt"),
        F.sum("qc").over(wall).cast("bigint").alias("nq"),
    )
    # ln(tc+1) - ln(nt+B) - ln(qc+1) + ln(nq+B), left-associated —
    # the identical parse shape as the oracle text
    lr = (
        F.log(F.col("tc") + 1)
        - F.log(F.col("nt") + F.lit(float(_DSIR_B)))
        - F.log(F.col("qc") + 1)
        + F.log(F.col("nq") + F.lit(float(_DSIR_B)))
    )
    ratio = counts.select(
        "b",
        F.floor(lr * 1e6 + F.lit(0.5)).cast("bigint").alias("ticks"),
    )
    # 4dp readout computed IN TICK SPACE: floor((S+50)/100) is the
    # half-up 4dp rounding of S·1e-6 done in exact integer arithmetic
    # — the naive r4(S/1e6) spelling flipped on exact half-tick
    # boundaries (S ending in 50) because the two engines fold the
    # /1e6·1e4 chain differently (caught at sf0.001 doc 70: Spark
    # -93.7732 vs DuckDB -93.7731 from S = -93,773,150). (S+50)/100.0
    # is exact whenever the true quotient is integral (numerator <
    # 2^53), so the boundary case cannot flip.
    w4 = (
        F.floor((F.sum("ticks") + F.lit(50)) / F.lit(100.0)).cast(
            "bigint"
        )
        / F.lit(10000.0)
    )
    return (
        toks.filter(~F.col("is_target"))
        .join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            w4.alias("log_weight"),
        )
    )


def dsir_oracle_sql(table: str = "documents") -> str:
    """text_dsir_weights as one DuckDB text — identical bucket hash,
    identical left-associated log-ratio expression, tick sums, and
    the tick-space 4dp readout (see the builder's boundary note)."""
    m, bb = _DECON_EVAL_MOD, _DSIR_B
    return rf"""
    WITH words AS (
      SELECT doc_id, doc_id % {m} = 0 AS is_target,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      FROM {table}
    ),
    toks AS (
      SELECT doc_id, is_target,
             ('0x' || substr(md5(w), 1, 15))::BIGINT % {bb} AS b
      FROM words WHERE w <> ''
    ),
    counts AS (
      SELECT b,
             CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
               AS tc,
             CAST(sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT)
               AS qc
      FROM toks GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(tc) AS BIGINT) AS nt,
             CAST(sum(qc) AS BIGINT) AS nq
      FROM counts
    ),
    ratio AS (
      SELECT b,
             CAST(floor((ln(tc + 1) - ln(nt + {bb}.0) - ln(qc + 1)
                         + ln(nq + {bb}.0)) * 1e6 + 0.5) AS BIGINT)
               AS ticks
      FROM counts CROSS JOIN tot
    )
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(floor((sum(r.ticks) + 50) / 100.0) AS BIGINT) / 10000.0
             AS log_weight
    FROM toks t JOIN ratio r ON r.b = t.b
    WHERE NOT t.is_target
    GROUP BY 1
    """


# r13 late promotion — register call after the oracle (lazy: the
# text interpolates _DECON_EVAL_MOD, defined in the decontamination
# section below).
register(
    "text_dsir_weights",
    oracle=dsir_oracle_sql,
    survey="north-star: DSIR importance weights (hashed-unigram "
    "log ratio vs the eval slice; fixed B-bucket feature space)",
)(text_dsir_weights)


@register(
    "text_decontaminate",
    survey="north-star: train/eval n-gram decontamination (overlap join "
    "against a broadcast eval shingle set)",
    oracle=_SHINGLES_SQL
    + f""",
    eval_sh AS (
      SELECT DISTINCT s FROM shingles WHERE doc_id % {_DECON_EVAL_MOD} = 0
    ),
    hits AS (
      SELECT t.doc_id, count(DISTINCT t.s) AS n_shared
      FROM shingles t JOIN eval_sh e ON t.s = e.s
      WHERE t.doc_id % {_DECON_EVAL_MOD} <> 0
      GROUP BY 1
    )
    SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared
    FROM hits WHERE n_shared >= 2
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs sharing ≥2 distinct shingles with the eval set.

    Scale shape: the eval side is a benchmark suite — thousands of docs,
    millions of n-grams at most — so its DISTINCT shingle set broadcasts
    and the 100 TB training side is scanned ONCE with a map-side
    broadcast-hash semi-join + partial count; no full-corpus shuffle.
    (array_intersect against the persisted per-doc shingle arrays would
    also work, but the exploded broadcast join keeps the probe inside
    whole-stage codegen.) Counts are integers → exact hash match."""
    sh = _shingle_sets_persisted(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("s")
    )
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == 0
    eval_sh = sh.filter(is_eval).select("s").distinct()
    return (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count_distinct("s").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
        .select("doc_id", F.col("n_shared").cast("bigint").alias("n_shared"))
    )


# ------------- fuzzy decontamination (round-12 preview)
#
# The exact-n-gram filter above catches verbatim inclusions; modern
# eval hygiene also drops NEAR-duplicates of eval documents (light
# paraphrase, whitespace/punctuation drift — the contamination class
# n-gram joins miss; the Llama/PaLM reports run fuzzy variants for
# exactly this reason). This is that operator, built from the two
# machines the catalog already trusts byte-for-byte: LSH banding
# candidates (_LSH_CANDS_SQL / _lsh_candidate_pairs) restricted to
# train×eval pairs, then the exact-Jaccard verify
# (_LSH_VERIFY_SQL / _lsh_verified_pairs) at the same ≥ 0.5 line.
# One row per FLAGGED training doc with its minimum-id eval witness
# and that pair's jaccard (ratio of integers — exact hash).
#
# Scale shape: identical to dedup_minhash_lsh (banding equi-join +
# candidates-only verify) with a post-banding xor filter — the eval
# side needs no separate index, it rides the same signature pass.
# Registered r13 (the register call follows decon_fuzzy_oracle_sql
# below).


def text_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training docs that are MinHash-verified near-duplicates
    (Jaccard ≥ 0.5) of some eval doc (registered r13; r12 preview).
    Output: (doc_id, eval_witness, jaccard) — witness = the smallest
    matching eval doc_id, jaccard = that pair's exact score."""
    from pyspark.sql import Window

    ds = _shingle_sets_persisted(spark, sf_dir)
    jac = _lsh_verified_pairs(ds, _lsh_candidate_pairs(ds))
    e1 = F.col("doc1") % _DECON_EVAL_MOD == 0
    e2 = F.col("doc2") % _DECON_EVAL_MOD == 0
    split = (
        jac.filter(e1 != e2)
        .select(
            F.when(e1, F.col("doc2")).otherwise(F.col("doc1")).alias("doc_id"),
            F.when(e1, F.col("doc1")).otherwise(F.col("doc2")).alias("ev"),
            "jaccard",
        )
    )
    w = Window.partitionBy("doc_id").orderBy("ev")
    return (
        split.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("ev").cast("bigint").alias("eval_witness"),
            "jaccard",
        )
    )


def decon_fuzzy_oracle_sql() -> str:
    """text_decontaminate_fuzzy as one DuckDB text — the shared
    signature + candidates + verify fragments (the exact texts
    dedup_minhash_lsh registers), an eval-xor split, and the
    min-witness window."""
    return (
        _SIG_SQL
        + _LSH_CANDS_SQL
        + _LSH_VERIFY_SQL
        + f""",
    jac AS ({_LSH_JACCARD_SELECT}),
    split AS (
      SELECT CASE WHEN doc1 % {_DECON_EVAL_MOD} = 0 THEN doc2
                  ELSE doc1 END AS doc_id,
             CASE WHEN doc1 % {_DECON_EVAL_MOD} = 0 THEN doc1
                  ELSE doc2 END AS ev,
             jaccard
      FROM jac
      WHERE (doc1 % {_DECON_EVAL_MOD} = 0) <> (doc2 % {_DECON_EVAL_MOD} = 0)
    )
    SELECT doc_id, CAST(ev AS BIGINT) AS eval_witness, jaccard FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ev) AS rn
      FROM split
    ) WHERE rn = 1
    """
    )


# r13 promotion of the r12 preview (VERDICT r12 #1).
register(
    "text_decontaminate_fuzzy",
    oracle=decon_fuzzy_oracle_sql(),
    survey="north-star: fuzzy eval-set decontamination "
    "(MinHash-verified near-dup contamination, jaccard >= 0.5)",
)(text_decontaminate_fuzzy)


_PACK_BUDGET = 256  # whitespace tokens per shard


@register(
    "shard_pack_greedy",
    survey="north-star: token-budget shard packing (per-source greedy "
    "prefix-sum assignment for training-shard layout)",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
      FROM documents
    ),
    run AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prior_tok
      FROM toks
    )
    SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(COALESCE(prior_tok, 0) // {_PACK_BUDGET} AS BIGINT) AS shard_idx
    FROM run
    """,
)
def shard_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each doc to a training shard: within its source, docs are
    packed in doc_id order until the shard's token budget is exhausted
    (shard_idx = exclusive-prefix-sum of tokens ÷ budget — greedy
    first-fit in one pass, a doc straddling the boundary opens the next
    shard).

    Scale shape: the window partitions by SOURCE, so the prefix sum
    distributes — one source's docs sort together, never a global
    single-partition window (the global variant needs the classic
    two-phase per-partition-offset prefix sum; per-source is what
    training-data layouts actually do, keeping domains contiguous).
    Integer tokens and integer division → exact hash match."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return toks.select(
        "doc_id",
        "source",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.floor(prior / _PACK_BUDGET).cast("bigint").alias("shard_idx"),
    )


# ------------- context-window packing (round-12 preview)
#
# GPT-style "concat and chunk" sequence packing: the corpus token
# stream — documents concatenated in GLOBAL doc_id order — is cut
# every _CTX_LEN tokens, and each document reports the window span it
# lands in ([first_window, last_window]; a doc whose interval crosses
# a cut is split across windows, unlike shard_pack_greedy above,
# which keeps docs whole). This is the packing audit a pretraining
# data loader needs: which context windows hold which documents, and
# how many boundary splits the layout incurs.
#
# Scale shape — the classic TWO-PHASE DISTRIBUTED PREFIX SUM that
# shard_pack_greedy's docstring name-drops for the global variant,
# implemented: (1) bucket docs by floor(doc_id / _PACK_BUCKET) and
# sum tokens per bucket (map-side-combinable groupBy, corpus/B-sized
# result); (2) exclusive-prefix the BUCKET table with a window (the
# only global-order window, over corpus/B rows, never the corpus —
# at 10^10 docs and B=8192 that is ~10^6 rows; recurse the bucketing
# if that table itself ever outgrows one partition); (3) broadcast
# the bucket offsets back and window WITHIN each bucket (bounded
# B-row partitions). No corpus-sized single-partition exchange
# anywhere. All arithmetic is integer (counts, floor-div) → full
# value-hash oracle; the DuckDB text keeps the naive global-window
# form (one engine's 500-row window is free; the decomposition is
# the Spark-side scale story).
#
# Registered r13 (the register call follows pack_windows_oracle_sql
# below), with HEADLINE + AUDITED entries alongside.

_CTX_LEN = 512  # tokens per packed context window
_PACK_BUCKET = 1024  # docs per prefix-sum bucket (phase-1 fan-in)


def pack_windows_frame(d: DataFrame, ctx_len: int, bucket: int) -> DataFrame:
    """Core packing pass over a (doc_id, text) frame (tested directly
    by the differential fuzz in tests/test_pack_windows.py). Output:
    (doc_id, n_tok, tok_start, first_window, last_window, n_windows)
    — one row per document, tok_start = exclusive prefix sum of
    whitespace-token counts in doc_id order."""
    from pyspark.sql import Window

    toks = d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"),
        F.floor(F.col("doc_id") / bucket).cast("bigint").alias("bkt"),
    )
    bsums = toks.groupBy("bkt").agg(F.sum("n_tok").alias("bsum"))
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    boff = bsums.select(
        "bkt", F.coalesce(F.sum("bsum").over(wb), F.lit(0)).alias("bkt_off")
    )
    ww = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.col("bkt_off") + F.coalesce(F.sum("n_tok").over(ww), F.lit(0))
    first = F.floor(F.col("tok_start") / ctx_len)
    last = F.floor((F.col("tok_start") + F.col("n_tok") - 1) / ctx_len)
    return (
        toks.join(F.broadcast(boff), "bkt")
        .withColumn("tok_start", start)
        .select(
            "doc_id",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            F.col("tok_start").cast("bigint").alias("tok_start"),
            first.cast("bigint").alias("first_window"),
            last.cast("bigint").alias("last_window"),
            (last - first + 1).cast("bigint").alias("n_windows"),
        )
    )


def pack_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing audit over the documents table: global
    doc_id-order token stream cut every _CTX_LEN whitespace tokens,
    one row per doc with its window span (registered r13; r12
    preview)."""
    return pack_windows_frame(_docs(spark, sf_dir), _CTX_LEN, _PACK_BUCKET)


def pack_windows_oracle_sql(
    table: str = "documents", ctx_len: int = _CTX_LEN
) -> str:
    """pack_context_windows as one DuckDB text — the naive global
    window form (the two-phase decomposition is Spark-side layout,
    not semantics; both produce the identical integer prefix)."""
    return rf"""
    WITH toks AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
      FROM {table}
    ),
    run AS (
      SELECT doc_id, n_tok,
             coalesce(sum(n_tok) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS tok_start
      FROM toks
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(tok_start AS BIGINT) AS tok_start,
           CAST(tok_start // {ctx_len} AS BIGINT) AS first_window,
           CAST((tok_start + n_tok - 1) // {ctx_len} AS BIGINT)
             AS last_window,
           CAST((tok_start + n_tok - 1) // {ctx_len}
                - tok_start // {ctx_len} + 1 AS BIGINT) AS n_windows
    FROM run
    """


# r13 promotion of the r12 preview (VERDICT r12 #1).
register(
    "pack_context_windows",
    oracle=pack_windows_oracle_sql(),
    survey="north-star: GPT-style concat-and-chunk context packing "
    "(two-phase distributed prefix sum, one row per doc)",
)(pack_context_windows)


# The window-centric companion: one row PER CONTEXT WINDOW — what the
# data loader actually reads. Each doc's span explodes to its covered
# windows (sequence(first, last) — in-row, factor ≈ n_tok/L + 1) with
# the token sub-range it contributes, then one map-side-combinable
# groupBy(window). A window holds at most L+1 doc pieces, so the
# aggregate is bounded per key — no skew, no collect. Registered r13
# alongside pack_context_windows above (register call after
# pack_manifest_oracle_sql below).


def pack_manifest_frame(d: DataFrame, ctx_len: int, bucket: int) -> DataFrame:
    """Per-window packing manifest over a (doc_id, text) frame.
    Output: (window_id, n_docs, n_tokens, min_doc, max_doc,
    starts_mid_doc, ends_mid_doc) — n_tokens = ctx_len except the
    final window; starts/ends_mid_doc flag a document split across
    the leading/trailing window edge."""
    spans = pack_windows_frame(d, ctx_len, bucket)
    piece = spans.select(
        "doc_id",
        "tok_start",
        "n_tok",
        F.explode(
            F.sequence(F.col("first_window"), F.col("last_window"))
        ).alias("window_id"),
    )
    wstart = F.col("window_id") * ctx_len
    wend = wstart + ctx_len
    piece_start = F.greatest(F.col("tok_start"), wstart)
    piece_end = F.least(F.col("tok_start") + F.col("n_tok"), wend)
    return (
        piece.select(
            "window_id",
            "doc_id",
            (piece_end - piece_start).alias("piece_len"),
            (F.col("tok_start") < wstart).alias("enters_mid"),
            (F.col("tok_start") + F.col("n_tok") > wend).alias("exits_mid"),
        )
        .groupBy("window_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("piece_len").cast("bigint").alias("n_tokens"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
            F.max("enters_mid").alias("starts_mid_doc"),
            F.max("exits_mid").alias("ends_mid_doc"),
        )
        .select(
            F.col("window_id").cast("bigint").alias("window_id"),
            "n_docs",
            "n_tokens",
            "min_doc",
            "max_doc",
            "starts_mid_doc",
            "ends_mid_doc",
        )
    )


def pack_window_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-centric packing manifest over the documents table: one
    row per _CTX_LEN-token context window with its document pieces
    summarized (registered r13; r12 preview)."""
    return pack_manifest_frame(_docs(spark, sf_dir), _CTX_LEN, _PACK_BUCKET)


def pack_manifest_oracle_sql(
    table: str = "documents", ctx_len: int = _CTX_LEN
) -> str:
    """pack_window_manifest as one DuckDB text — the doc-span chain
    plus generate_series explode and the per-window rollup."""
    return rf"""
    WITH toks AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
      FROM {table}
    ),
    run AS (
      SELECT doc_id, n_tok,
             CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
      FROM toks
    ),
    piece AS (
      SELECT r.doc_id, r.tok_start, r.n_tok, t.window_id
      FROM run r, UNNEST(generate_series(r.tok_start // {ctx_len},
                         (r.tok_start + r.n_tok - 1) // {ctx_len}))
                    AS t(window_id)
    )
    SELECT CAST(window_id AS BIGINT) AS window_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least(tok_start + n_tok, (window_id + 1) * {ctx_len})
                    - greatest(tok_start, window_id * {ctx_len}))
             AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc,
           bool_or(tok_start < window_id * {ctx_len}) AS starts_mid_doc,
           bool_or(tok_start + n_tok > (window_id + 1) * {ctx_len})
             AS ends_mid_doc
    FROM piece GROUP BY 1
    """


# r13 promotion of the r12 preview (VERDICT r12 #1).
register(
    "pack_window_manifest",
    oracle=pack_manifest_oracle_sql(),
    survey="north-star: per-context-window packing manifest "
    "(one row per window: pieces, fill, mid-doc edge flags)",
)(pack_window_manifest)


# ------------- composed loader-order pipeline (round-13 preview)
#
# The loader-facing capstone that chains three of this round's
# machines END TO END: Gopher-rule filtering → context-window packing
# RE-SCOPED to the survivors (the token prefix runs over the filtered
# corpus, NOT the raw one — dropping a doc shifts every later window
# boundary, so a join of the standalone outputs would be wrong; the
# pipeline_unimax_corpus re-scoping argument verbatim) → a
# deterministic per-epoch shuffle of the WINDOWS (what the trainer
# actually consumes — shuffling docs would split attention spans
# mid-window). One row per (epoch, window): its shuffled position and
# the manifest stats a loader prefetches by.
#
# Every leg is the shared machinery of the operator it composes:
# gopher_rules_frame / the gopher oracle text wrapped as a CTE,
# pack_manifest_frame / pack_manifest_oracle_sql over the survivor
# view, epoch_shuffle_frame / epoch_shuffle_oracle_sql over the
# window ids. Scale shape: the union of its parts — the rule gate is
# a pure map, packing is the two-phase prefix sum, the shuffle is the
# two-phase hash rank; the manifest (corpus_tokens/L rows) is
# materialized once because it feeds both the shuffle and the
# final stats join. Registered r13 (the register call follows the
# oracle and its late-import helper below).

_ORDER_EPOCHS = 2


def pipeline_pretrain_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter → pack → shuffle, end to end: Gopher-gated documents
    packed into _CTX_LEN-token windows (prefix re-scoped to the
    survivors), windows ordered by the deterministic per-epoch
    shuffle (registered r13; r13 preview). Output: (epoch, window_id,
    pos, n_docs, n_tokens)."""
    from nyc_traffic_insight_spark.queries.samplingq import (
        epoch_shuffle_frame,
    )

    d = _docs(spark, sf_dir)
    surv = gopher_rules_frame(d).filter("keep").select("doc_id")
    surv_docs = d.join(surv, "doc_id").select("doc_id", "text")
    wins = pack_manifest_frame(
        surv_docs, _CTX_LEN, _PACK_BUCKET
    ).transform(materialize)
    shuf = epoch_shuffle_frame(
        wins.select(F.col("window_id").alias("doc_id")),
        _ORDER_EPOCHS,
        spark,
    )
    return shuf.join(
        wins, shuf["doc_id"] == wins["window_id"]
    ).select(
        "epoch",
        "window_id",
        "pos",
        "n_docs",
        "n_tokens",
    )


def pretrain_order_oracle_sql() -> str:
    """pipeline_pretrain_order as one DuckDB text — the composed
    operators' own oracle texts nested as CTEs (gopher gate verbatim,
    the manifest oracle over the survivor view, the shuffle oracle
    over the window ids — epochs passed EXPLICITLY as _ORDER_EPOCHS so
    the oracle cannot silently couple to samplingq's unrelated
    _SHUFFLE_EPOCHS default, review r13). Inner WITH-chains are legal
    CTE bodies in DuckDB; outer names (gop/surv_docs/wins/wid) avoid
    the inner chains' names (toks/run/piece) — the
    pipeline_unimax_corpus nested-name lesson."""
    return f"""
    WITH gop AS ({gopher_rules_oracle_sql("documents")}),
    surv_docs AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN gop g ON g.doc_id = d.doc_id AND g.keep
    ),
    wins AS ({pack_manifest_oracle_sql("surv_docs")}),
    wid AS (SELECT window_id AS doc_id FROM wins),
    shuf AS ({epoch_shuffle_oracle_import()("wid", _ORDER_EPOCHS)})
    SELECT s.epoch, s.doc_id AS window_id, s.pos, w.n_docs, w.n_tokens
    FROM shuf s JOIN wins w ON w.window_id = s.doc_id
    """


def epoch_shuffle_oracle_import():
    """Late import of samplingq's shuffle oracle builder (textops must
    not import samplingq at module load — samplingq already imports
    textops fragments at call time; keeping both lazy avoids the
    cycle)."""
    from nyc_traffic_insight_spark.queries.samplingq import (
        epoch_shuffle_oracle_sql,
    )

    return epoch_shuffle_oracle_sql


# r13 promotion of the r13 preview. The oracle is LAZY (rendered in
# load_all after every module imports) because its text composes
# samplingq's shuffle-oracle fragment — eager rendering here pulled
# samplingq mid-textops-import and created an import-order trap
# (importing samplingq first failed until its shuffle section was
# placed above its own textops-importing register; r13 review #2/#4).
register(
    "pipeline_pretrain_order",
    oracle=pretrain_order_oracle_sql,
    survey="north-star: loader-order capstone — Gopher filter → "
    "context packing re-scoped to survivors → per-epoch shuffle",
)(pipeline_pretrain_order)


# Temperature-based source mixing: up/down-weight sources so the mixture
# follows share^alpha (alpha<1 flattens toward uniform — the multilingual
# / domain-balancing trick). Deterministic: per-source keep-quota from
# exact integer counts, docs ranked by md5(doc_id) so both engines pick
# the identical subset.
_MIX_ALPHA = 0.5


@register(
    "sample_temperature_mix",
    survey="north-star: temperature-based source mixing "
    "(share^alpha data-balance resample, md5-deterministic)",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n FROM documents GROUP BY 1
    ),
    quota AS (
      SELECT source, n,
             CAST(ceil(pow(n, {_MIX_ALPHA})) AS BIGINT) AS keep_n
      FROM counts
    ),
    ranked AS (
      SELECT d.doc_id, d.source,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR)))
               AS rk
      FROM documents d
    )
    SELECT r.doc_id, r.source, q.keep_n
    FROM ranked r JOIN quota q ON q.source = r.source
    WHERE r.rk <= q.keep_n
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the corpus so each source contributes ~n^alpha docs
    (alpha=0.5): big sources are down-weighted, small ones kept whole —
    the standard temperature-mixing step before training-shard layout.

    Scale shape: one aggregate for per-source counts (broadcast back as
    the quota dim), one per-source window rank on the md5 key — both
    partition by source, no global ordering anywhere. md5 ranking makes
    the selection a value-hash-checkable contract instead of an
    engine-seeded sample (same trick as sample_stratified). The rank
    still sorts each source's rows; when exact quotas aren't required
    at 100 TB, the sort-free variant filters on a per-source md5
    THRESHOLD (keep if md5(doc_id) < keep_n/n scaled into the hash
    space) — one narrow pass, approximately keep_n survivors — the
    same map-side-filter shape as sample_stratified."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    quota = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "source",
            F.ceil(F.pow(F.col("n").cast("double"), F.lit(_MIX_ALPHA)))
            .cast("bigint")
            .alias("keep_n"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")))
    ranked = d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
    return (
        ranked.join(F.broadcast(quota), "source")
        .filter(F.col("rk") <= F.col("keep_n"))
        .select("doc_id", "source", "keep_n")
    )


@register(
    "text_repetition_filter",
    survey="north-star: repetition-based quality gate (Gopher-rule "
    "family: duplicate n-gram fraction, top-word concentration)",
    oracle=r"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, len(w) AS n_words,
             len(w) - 1 AS n_2g,
             len(list_distinct(list_transform(
               range(1, greatest(len(w), 1)),
               i -> w[i] || ' ' || w[i+1]))) AS d_2g,
             len(w) - 2 AS n_3g,
             len(list_distinct(list_transform(
               range(1, greatest(len(w) - 1, 1)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS d_3g
      FROM words WHERE len(w) >= 3
    ),
    top_word AS (
      SELECT doc_id, max(c) AS top_c FROM (
        SELECT doc_id, count(*) AS c
        FROM (SELECT doc_id, unnest(w) AS t FROM words) GROUP BY doc_id, t
      ) GROUP BY doc_id
    )
    SELECT g.doc_id,
           CAST(g.n_words AS BIGINT) AS n_words,
           CAST(g.n_2g - g.d_2g AS DOUBLE) / g.n_2g AS dup_2gram_frac,
           CAST(g.n_3g - g.d_3g AS DOUBLE) / g.n_3g AS dup_3gram_frac,
           CAST(t.top_c AS DOUBLE) / g.n_words AS top_word_frac,
           (CAST(g.n_2g - g.d_2g AS DOUBLE) / g.n_2g) <= 0.9
             AND (CAST(t.top_c AS DOUBLE) / g.n_words) <= 0.3 AS keep
    FROM grams g JOIN top_word t ON t.doc_id = g.doc_id
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality gate (the Gopher-rule family): fraction of
    duplicated 2-/3-grams and the top word's share of the doc. Docs
    dominated by repeated n-grams or a single token are boilerplate /
    spam and get keep=false (thresholds 0.9 / 0.3 — the synthetic
    small-vocabulary corpus makes high dup fractions normal, so the
    2-gram gate is intentionally loose; production corpora use ~0.2).

    Scale shape: the n-gram duplicate fractions are FULLY NARROW — the
    slice/zip_with shingle construction and array_distinct never leave
    the row. The top-word count does explode → groupBy, but the grouping
    key is (doc_id, term): cardinality ~tokens, uniformly distributed,
    with map-side partial max folding — no hot keys (unlike a global
    term count, a per-doc count cannot skew). Ratios of integers →
    exact IEEE754 division, hash-stable without rounding."""
    d = _docs(spark, sf_dir)
    w = F.split(F.lower(F.trim("text")), r"\s+")
    n2 = F.greatest(F.size(w) - 1, F.lit(0))
    g2 = F.zip_with(F.slice(w, 1, n2), F.slice(w, 2, n2),
                    lambda a, b: F.concat(a, F.lit(" "), b))
    n3 = F.greatest(F.size(w) - 2, F.lit(0))
    g3 = F.zip_with(
        F.zip_with(F.slice(w, 1, n3), F.slice(w, 2, n3),
                   lambda a, b: F.concat(a, F.lit(" "), b)),
        F.slice(w, 3, n3),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    grams = d.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_words"),
        F.size(g2).alias("n_2g"),
        F.size(F.array_distinct(g2)).alias("d_2g"),
        F.size(g3).alias("n_3g"),
        F.size(F.array_distinct(g3)).alias("d_3g"),
    ).filter(F.col("n_words") >= 3)

    top = (
        d.select("doc_id", F.explode(w).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )

    dup2 = (F.col("n_2g") - F.col("d_2g")).cast("double") / F.col("n_2g")
    dup3 = (F.col("n_3g") - F.col("d_3g")).cast("double") / F.col("n_3g")
    topf = F.col("top_c").cast("double") / F.col("n_words")
    return (
        grams.join(top, "doc_id")
        .select(
            "doc_id",
            "n_words",
            dup2.alias("dup_2gram_frac"),
            dup3.alias("dup_3gram_frac"),
            topf.alias("top_word_frac"),
            ((dup2 <= 0.9) & (topf <= 0.3)).alias("keep"),
        )
    )


@register(
    "pipeline_pretrain_corpus",
    survey="north-star: composed pretraining-corpus pipeline — "
    "repetition/length gate -> eval decontamination -> exact dedup -> "
    "token-budget shard packing",
    oracle=_SHINGLES_SQL
    + rf""",
    eval_sh AS (
      SELECT DISTINCT s FROM shingles WHERE doc_id % {_DECON_EVAL_MOD} = 0
    ),
    contaminated AS (
      SELECT DISTINCT t.doc_id
      FROM shingles t JOIN eval_sh e ON t.s = e.s
      WHERE t.doc_id % {_DECON_EVAL_MOD} <> 0
      GROUP BY t.doc_id, t.s
      HAVING count(*) >= 1
    ),
    gated AS (
      SELECT doc_id, source, text,
             len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tok
      FROM documents
      WHERE doc_id % {_DECON_EVAL_MOD} <> 0
        AND len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 10
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    deduped AS (
      SELECT doc_id, source, n_tok FROM (
        SELECT doc_id, source, n_tok,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                 AS rn
        FROM gated
      ) WHERE rn = 1
    ),
    packed AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prior_tok
      FROM deduped
    )
    SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(COALESCE(prior_tok, 0) // {_PACK_BUDGET} AS BIGINT)
             AS shard_idx
    FROM packed
    """,
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-construction pipeline, start to finish: drop
    eval docs, gate on length, drop anything sharing an n-gram with the
    eval set, keep the first copy of exact duplicates, then pack the
    survivors into per-source token-budget shards — each stage is the
    registered standalone operator, chained.

    Scale shape is the union of its parts and stays clean end-to-end:
    the decontamination filter is a broadcast anti-join (eval n-grams
    are tiny), exact dedup shuffles 32-byte md5 keys via a per-hash
    row_number (first-copy-wins), and the final prefix-sum window
    partitions by source. No stage widens data before a narrower stage
    shrinks it — the gates run FIRST so dedup and packing only see
    survivors."""
    from pyspark.sql import Window

    ds = _shingle_sets_persisted(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("s")
    )
    is_eval = F.col("doc_id") % _DECON_EVAL_MOD == 0
    eval_sh = ds.filter(is_eval).select("s").distinct()
    contaminated = (
        ds.filter(~is_eval).join(F.broadcast(eval_sh), "s").select("doc_id").distinct()
    )

    d = _docs(spark, sf_dir)
    n_tok = F.size(F.split(F.lower(F.trim("text")), r"\s+"))
    gated = (
        d.filter(F.col("doc_id") % _DECON_EVAL_MOD != 0)
        .select("doc_id", "source", "text", n_tok.alias("n_tok"))
        .filter(F.col("n_tok") >= 10)
        .join(F.broadcast(contaminated), "doc_id", "left_anti")
    )

    wd = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_tok")
    )

    wp = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum("n_tok").over(wp), F.lit(0))
    return deduped.select(
        "doc_id",
        "source",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.floor(prior / _PACK_BUDGET).cast("bigint").alias("shard_idx"),
    )


# Incremental ingestion: at 100 TB you never re-dedup the whole corpus —
# each new crawl batch is probed against the existing corpus's indexes
# (content-hash set for exact dups, LSH buckets for near-dups) and only
# survivors append. The deterministic doc_id % 5 == 4 slice plays the
# "new batch"; everything else is the standing corpus.
_INCR_MOD = 5
_INCR_NEW = 4


@register(
    "dedup_incremental_batch",
    survey="north-star: incremental batch dedup — probe the new batch "
    "against the standing corpus (exact hash anti-join + shingle "
    "overlap), never re-dedup the corpus",
    oracle=_SHINGLES_SQL
    + f""",
    new_docs AS (
      SELECT doc_id, md5(text) AS h FROM documents
      WHERE doc_id % {_INCR_MOD} = {_INCR_NEW}
    ),
    corpus AS (
      SELECT doc_id, md5(text) AS h FROM documents
      WHERE doc_id % {_INCR_MOD} <> {_INCR_NEW}
    ),
    exact_survivors AS (
      SELECT n.doc_id FROM new_docs n
      WHERE n.h NOT IN (SELECT h FROM corpus)
    ),
    overlap AS (
      SELECT a.doc_id, max(j) AS best_j FROM (
        SELECT sa.doc_id, sb.doc_id AS corpus_id,
               CAST(count(*) AS DOUBLE)
                 / ((SELECT count(*) FROM shingles x WHERE x.doc_id = sa.doc_id)
                    + (SELECT count(*) FROM shingles y WHERE y.doc_id = sb.doc_id)
                    - count(*)) AS j
        FROM shingles sa
        JOIN shingles sb ON sb.s = sa.s
          AND sb.doc_id % {_INCR_MOD} <> {_INCR_NEW}
        WHERE sa.doc_id % {_INCR_MOD} = {_INCR_NEW}
        GROUP BY sa.doc_id, sb.doc_id
      ) a GROUP BY a.doc_id
    )
    SELECT e.doc_id,
           round(COALESCE(o.best_j, 0.0), 4) AS best_corpus_jaccard,
           COALESCE(o.best_j, 0.0) < 0.5 AS keep
    FROM exact_survivors e LEFT JOIN overlap o ON o.doc_id = e.doc_id
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a new ingest batch against the standing corpus: exact dups
    die on a content-hash anti-join; near-dups are scored by the best
    Jaccard against any corpus doc sharing a shingle, and keep=false
    above 0.5.

    Scale shape — the whole point of the incremental form: the CORPUS
    side is only ever touched through its indexes (hash set, shingle
    postings), both shuffled by uniform md5/shingle keys; the expensive
    per-pair scoring is bounded by |new batch| × (docs sharing a
    shingle), never |corpus|². In production the corpus's shingle
    postings are a standing bucketed table, so each daily batch probes
    co-located buckets without re-shuffling the corpus (same layout
    tests/test_bucketing.py pins). Jaccard is a ratio of ints; the max
    over candidates is order-free → round(,4) only for the final
    column."""
    d = _docs(spark, sf_dir)
    is_new = F.col("doc_id") % _INCR_MOD == _INCR_NEW
    hashed = d.select("doc_id", F.md5("text").alias("h"))
    new_h = hashed.filter(is_new)
    corpus_h = hashed.filter(~is_new).select("h").distinct()
    exact_survivors = new_h.join(corpus_h, "h", "left_anti").select("doc_id")

    sh = _shingle_sets_persisted(spark, sf_dir)
    cnt = sh.select("doc_id", F.size("sh").alias("n"))
    posts = sh.select("doc_id", F.explode("sh").alias("s"))
    new_posts = posts.filter(is_new)
    corpus_posts = posts.filter(~is_new).select(
        F.col("doc_id").alias("corpus_id"), "s"
    )
    pair_common = (
        new_posts.join(corpus_posts, "s")
        .groupBy("doc_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ca = cnt.select(F.col("doc_id"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("corpus_id"), F.col("n").alias("nb"))
    best = (
        pair_common.join(ca, "doc_id")
        .join(cb, "corpus_id")
        .select(
            "doc_id",
            (F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))).alias("j"),
        )
        .groupBy("doc_id")
        .agg(F.max("j").alias("best_j"))
    )
    best_j = F.coalesce(F.col("best_j"), F.lit(0.0))
    return (
        exact_survivors.join(best, "doc_id", "left")
        .select(
            "doc_id",
            _r(best_j, 4).alias("best_corpus_jaccard"),
            (best_j < 0.5).alias("keep"),
        )
    )


@register(
    "text_perplexity_proxy",
    survey="north-star: unigram-LM cross-entropy scoring (the CCNet-style "
    "LM quality filter, with the corpus's own unigram table as the LM)",
    oracle=r"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
               AS term
      FROM documents
    ),
    vocab AS (SELECT term, count(*) AS c FROM words GROUP BY 1),
    tot AS (SELECT sum(c) AS t FROM vocab)
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           round(avg(ln(tot.t) - ln(v.c)), 4) AS unigram_xent
    FROM words w JOIN vocab v ON v.term = w.term CROSS JOIN tot
    GROUP BY w.doc_id
    """,
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram cross-entropy, avg(-ln p(token)) — the language-
    model quality signal (CCNet ranks Common Crawl by small-LM
    perplexity; a unigram table is its degenerate, dependency-free
    form, here trained on the corpus itself). Low = natural running
    text; high = rare-token soup.

    Scale shape: the LM is a (term, count) table — in production a
    pre-trained top-K vocabulary that BROADCASTS (small by
    construction, the same way CCNet ships its 5-gram model to every
    worker), so scoring is a narrow broadcast-hash join over the
    exploded tokens; no shuffle keyed on hot terms ever happens (a
    shuffled term join would skew on stopwords). Cross-entropy is an
    order-dependent float accumulation → round(,4) on both sides per
    the catalog convention."""
    words = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term")
    )
    vocab = words.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("t"))
    return (
        words.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            _r(F.avg(F.log("t") - F.log("c")), 4).alias("unigram_xent"),
        )
    )


@register(
    "dedup_substring_exact",
    survey="north-star dedup tier: exact duplicated-substring detection "
    "(Lee et al. 2022, 'Deduplicating Training Data Makes Language "
    "Models Better' — the ExactSubstr pass that catches boilerplate "
    "shared across otherwise-distinct documents, which whole-doc "
    "hashing misses)",
    oracle="""
    WITH spans AS (
      SELECT doc_id,
             CAST(unnest(generate_series(1, length(text) - 79, 40))
                  AS INTEGER) AS s,
             text
      FROM documents WHERE length(text) >= 80
    )
    SELECT md5(substr(text, s, 80)) AS span_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM spans
    GROUP BY 1
    HAVING count(DISTINCT doc_id) > 1
    """,
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated spans: tile every document with
    80-char windows at stride 40, hash each window, and keep hashes
    seen in more than one document. The output is the boilerplate
    inventory — the spans an ExactSubstr dedup pass would cut.

    Recall property (precise, pinned in
    tests/test_textops_graph.py): a shared region is detected iff the
    two documents sample it at the SAME region-relative offset — i.e.
    its start offsets are congruent mod the 40-char stride and it
    covers at least one full 80-char window on that common grid.
    That covers identical documents, shared prefixes, and
    fixed-position template boilerplate (the dominant web cases); a
    copy pasted at a misaligned offset is NOT caught by tiling at any
    region length — that is the gap Lee et al.'s suffix array closes,
    and why this operator is the cheap first pass, not the whole
    ExactSubstr story.

    Scale shape: the explode is a narrow per-row op (~len/stride rows
    per doc, all JVM expressions), and the only shuffle groups by the
    window hash — uniformly distributed by construction, no skew.
    Windows instead of suffixes trades the misalignment gap above for
    a shuffle-friendly fixed fan-out (the suffix array itself is not
    partition-parallel). At 100 TB the group-by carries (hash, doc)
    pairs only — bytes, not text."""
    d = _docs(spark, sf_dir).filter(F.length("text") >= 80)
    spans = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - 79, F.lit(40))
        ).alias("s"),
        "text",
    )
    return (
        spans.select(
            "doc_id",
            F.md5(F.expr("substring(text, s, 80)")).alias("span_hash"),
        )
        .groupBy("span_hash")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "emb_centroid_by_label",
    survey="north-star similarity tier: per-class embedding centroids "
    "(the training step of a nearest-centroid classifier and the seed "
    "step of IVF coarse quantization — elementwise array aggregation)",
    oracle="""
    WITH ex AS (
      SELECT label,
             CAST(unnest(generate_series(1, len(embedding))) AS INTEGER)
               AS dim,
             embedding
      FROM embeddings
    )
    SELECT label, dim,
           round(avg(embedding[dim]), 4) AS centroid,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM ex GROUP BY 1, 2
    """,
)
def emb_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label, one output row per (label, dimension)
    — long format so the aggregation is a plain groupBy with map-side
    partials instead of a whole-array reduce.

    Scale shape: posexplode fans each vector into |dim| rows map-side,
    then ONE shuffle on (label, dim) carries partial (sum, count)
    pairs — |labels|·|dims| groups regardless of corpus size. The
    wide-format alternative (aggregate() over zipped arrays) avoids
    the fan-out but loses partial aggregation and skews on label; long
    format is the 100 TB shape. Float sums are accumulation-order
    dependent → round(,4) both sides per the catalog convention."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            _r(F.avg("val"), 4).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


@register(
    "emb_covariance_matrix",
    survey="north-star similarity tier: embedding covariance matrix "
    "(upper triangle, long format) — the distributed primitive under "
    "PCA / whitening / Mahalanobis drift checks; the eigensolve on the "
    "dim x dim result is driver-sized by construction",
    oracle="""
    WITH pairs AS (
      SELECT t.i, u.j,
             CAST(embedding[t.i + 1] AS DOUBLE)
               * CAST(embedding[u.j + 1] AS DOUBLE) AS xy
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(0, len(embedding) - 1))
                      AS i) t,
           LATERAL (SELECT unnest(generate_series(t.i, len(embedding) - 1))
                      AS j) u
    ),
    m2 AS (SELECT i, j, avg(xy) AS exy FROM pairs GROUP BY 1, 2),
    means AS (
      SELECT t.pos, avg(CAST(embedding[t.pos + 1] AS DOUBLE)) AS mu
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(0, len(embedding) - 1))
                      AS pos) t
      GROUP BY 1
    )
    SELECT CAST(m2.i AS INTEGER) AS i, CAST(m2.j AS INTEGER) AS j,
           round(m2.exy - mi.mu * mj.mu, 6) AS cov
    FROM m2 JOIN means mi ON mi.pos = m2.i JOIN means mj ON mj.pos = m2.j
    """,
)
def emb_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cov(i,j) = E[x_i x_j] − E[x_i]E[x_j] over the corpus, upper
    triangle in long format (0-based dims; dim(dim+1)/2 = 2080 rows at
    64 dims).

    Scale shape: each vector expands IN-ROW to its upper-triangle
    product terms (a narrow array transform — no self-join, no
    per-dimension shuffle of raw vectors), then ONE shuffle carries
    map-side partial (sum, count) pairs for dim² bounded groups; means
    ride a second posexplode aggregate (dim-bounded) broadcast onto
    the result. Everything after the scan is bounded by dim², never by
    corpus size — exactly why PCA-at-scale computes the Gram/cov
    matrix distributed and eigensolves on the driver. Elements CAST to
    DOUBLE before multiplying on both engines (float32 storage);
    mean-of-products rounds at 6 dp per the catalog convention."""
    e = _embs(spark, sf_dir)
    pair_terms = F.expr(
        "flatten(transform(sequence(0, size(embedding) - 1), i -> "
        "transform(sequence(i, size(embedding) - 1), j -> "
        "struct(i AS i, j AS j, CAST(embedding[i] AS DOUBLE) "
        "* CAST(embedding[j] AS DOUBLE) AS xy))))"
    )
    m2 = (
        e.select(F.explode(pair_terms).alias("p"))
        .select("p.i", "p.j", "p.xy")
        .groupBy("i", "j")
        .agg(F.avg("xy").alias("exy"))
    )
    means = (
        e.select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.avg(F.col("v").cast("double")).alias("mu"))
    )
    mi = means.select(F.col("pos").alias("i"), F.col("mu").alias("mu_i"))
    mj = means.select(F.col("pos").alias("j"), F.col("mu").alias("mu_j"))
    return (
        m2.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            _r(F.col("exy") - F.col("mu_i") * F.col("mu_j"), 6).alias("cov"),
        )
    )


_PCA_K = 8


def _pca_fit(spark: SparkSession, sf_dir: str):
    """Driver-side eigensolve on the distributed covariance matrix.

    Returns (comps, eigvals, mu, dim): the top-k sign-fixed
    eigenvectors, their eigenvalues (descending), the per-dimension
    means, and the embedding dimension. The covariance matrix is
    COLLECTED at dim² size (2080 doubles — an index artifact like the
    IVF quantizer cache, not fact data); numpy's eigh runs driver-side
    on the 64x64 matrix. Signs are fixed deterministically
    (largest-magnitude entry positive) so repeated runs and resumed
    sessions emit identical scores."""
    import numpy as np

    from nyc_traffic_insight_spark.queries import REGISTRY

    cov_rows = (
        REGISTRY["emb_covariance_matrix"].builder(spark, sf_dir).collect()
    )
    # derive dim from the triangle itself (ADVICE r6): a hard-coded 64
    # would IndexError opaquely (or silently truncate) if the fixture
    # dimension ever changed
    dim = max(max(row["i"], row["j"]) for row in cov_rows) + 1
    assert len(cov_rows) == dim * (dim + 1) // 2, (
        f"covariance triangle has {len(cov_rows)} rows; "
        f"expected {dim * (dim + 1) // 2} for dim={dim}"
    )
    cov = np.zeros((dim, dim))
    for row in cov_rows:
        cov[row["i"], row["j"]] = cov[row["j"], row["i"]] = row["cov"]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:_PCA_K]
    comps, eigvals = [], []
    for c in order:
        v = vecs[:, c]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        comps.append(v)
        eigvals.append(float(vals[c]))

    means = (
        _embs(spark, sf_dir)
        .select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.avg(F.col("v").cast("double")).alias("mu"))
        .collect()
    )
    mu = np.zeros(dim)
    for row in means:
        mu[row["pos"]] = row["mu"]
    return comps, eigvals, mu, dim


def pca_scores(spark: SparkSession, sf_dir: str, _model=None) -> DataFrame:
    """Project every embedding onto the top-k principal components —
    the per-vector projection frame (vec_id, pc0..pc7) downstream ANN
    pre-filters and drift dashboards consume; linear-algebra invariants
    pinned in tests/test_vectorized_ann.py, contract audited by the
    registered emb_pca_project entry (which passes its already-fitted
    model via ``_model`` so the covariance/means jobs run once).

    Scale shape: the k eigenvectors from _pca_fit ship back as column
    literals and the projection is a narrow per-row JVM expression
    (aggregate over the zipped arrays) — no shuffle after the
    covariance aggregate."""
    comps, _eigvals, mu, _dim = _model or _pca_fit(spark, sf_dir)
    e = _embs(spark, sf_dir)
    # center ONCE in its own projection: zip_with runs interpreted, and
    # inlining the centering into each pc column would re-evaluate the
    # 64-element subtraction once per component per row. No barrier
    # needed — CollapseProject declines to merge a non-cheap expression
    # referenced 8x (verified: the optimized plan keeps 2 Projects with
    # one centering zip_with), so this stays a streaming narrow map
    # with no materialization at any scale.
    mulit = F.array(*[F.lit(float(x)) for x in mu])
    centered_df = e.select(
        "vec_id",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            mulit,
            lambda x, m: x - m,
        ).alias("centered"),
    )
    cols = [F.col("vec_id")]
    for idx, v in enumerate(comps):
        vlit = F.array(*[F.lit(float(x)) for x in v])
        score = F.aggregate(
            F.zip_with(F.col("centered"), vlit, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        cols.append(_r(score, 6).alias(f"pc{idx}"))
    return centered_df.select(*cols)


@register(
    "emb_pca_project",
    survey="north-star similarity tier: PCA projection onto the top-k "
    "eigenvectors of emb_covariance_matrix — dimensionality reduction "
    "for ANN pre-filtering and drift dashboards. Registered as the "
    "contract audit of the projection (eigenvector sign/order has no "
    "SQL value oracle): per component, the exact projected row count "
    "plus booleans the oracle pins TRUE — distributed score variance "
    "matches the driver eigenvalue, score means centered, eigenvalues "
    "descending, eigenbasis orthonormal; the raw score frame is "
    "pca_scores (invariants in tests/test_vectorized_ann.py)",
    oracle=f"""
    SELECT CAST(c AS INTEGER) AS component,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_scores,
           TRUE AS score_mean_centered,
           TRUE AS var_matches_eigval,
           TRUE AS eig_descending,
           TRUE AS orthonormal
    FROM (SELECT unnest(generate_series(0, {_PCA_K - 1})) AS c)
    """,
)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract audit of the PCA projection, one row per component
    (the sketch_tdigest pattern: the numbers a SQL engine CAN recompute
    are emitted exactly — the projected row count, which the oracle
    recomputes as count(*) from embeddings — and the linear-algebra
    contracts ride as booleans the oracle pins TRUE).

    The audited contracts, all with tolerances far above float
    accumulation noise (the r7 lesson: booleans with real slack are
    hash-safe; exact float hashes are not):
    - score_mean_centered: |mean(pc_c)| ≤ 1e-4 — the projection really
      centered the data (means cancel to ~1e-12 + 6dp rounding).
    - var_matches_eigval: the DISTRIBUTED population variance of each
      score column equals the DRIVER eigensolve's eigenvalue within
      2e-4 — var(Xv) = vᵀCv = λ for unit eigenvectors, so the whole
      pipeline (covariance plan → eigh → literal shipping → zip_with
      projection) must be consistent or the boolean flips. Measured
      |popvar − λ| ≤ 1e-6 at sf0.001/0.01/0.1 (λ ≈ 0.02); the Weyl
      bound for the 6dp covariance rounding is dim·5e-7 ≈ 3e-5, so
      2e-4 clears the worst case 6× while staying ~1% of λ.
    - eig_descending / orthonormal: λ sorted, max|VᵀV − I| ≤ 1e-9.

    Scale shape: one narrow projection pass feeds a single aggregate
    row (count + 2k float sums with map-side partials); the per-
    component expansion is driver-side on that one row."""
    model = _pca_fit(spark, sf_dir)
    comps, eigvals, _mu, _dim = model
    scores = pca_scores(spark, sf_dir, _model=model)
    aggs = [F.count(F.lit(1)).alias("n")]
    for idx in range(_PCA_K):
        aggs.append(F.sum(F.col(f"pc{idx}")).alias(f"s1_{idx}"))
        aggs.append(
            F.sum(F.col(f"pc{idx}") * F.col(f"pc{idx}")).alias(f"s2_{idx}")
        )
    stats = scores.agg(*aggs).first()

    import numpy as np

    vmat = np.array(comps)  # k x dim
    gram_err = float(np.abs(vmat @ vmat.T - np.eye(len(comps))).max())
    orthonormal = gram_err <= 1e-9
    n = stats["n"]
    rows = []
    for idx in range(_PCA_K):
        mean = stats[f"s1_{idx}"] / n
        popvar = stats[f"s2_{idx}"] / n - mean * mean
        lam = eigvals[idx]
        rows.append(
            (
                idx,
                int(n),
                bool(abs(mean) <= 1e-4),
                bool(abs(popvar - lam) <= 2e-4),
                bool(
                    idx == _PCA_K - 1 or eigvals[idx] >= eigvals[idx + 1]
                ),
                orthonormal,
            )
        )
    return spark.createDataFrame(
        rows,
        "component int, n_scores bigint, score_mean_centered boolean, "
        "var_matches_eigval boolean, eig_descending boolean, "
        "orthonormal boolean",
    )


@register(
    "dedup_containment",
    survey="north-star dedup tier: asymmetric shingle containment "
    "|A∩B| / |A| — the sub-document signal Jaccard misses (a short doc "
    "pasted inside a long one has high containment but low Jaccard, "
    "so a Jaccard-only pipeline keeps the duplication)",
    oracle=_SHINGLES_SQL
    + """,
    cnt AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS c
      FROM shingles a JOIN shingles b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc1, doc2,
           CAST(c AS DOUBLE) / least(ca.n, cb.n) AS containment,
           CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
    FROM common
    JOIN cnt ca ON ca.doc_id = doc1
    JOIN cnt cb ON cb.doc_id = doc2
    WHERE CAST(c AS DOUBLE) / least(ca.n, cb.n) >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs where the SMALLER document's shingle set is ≥80% contained
    in the other — emitted with the Jaccard beside it so downstream
    policy can see exactly the pairs where the two scores disagree
    (high containment + low Jaccard = sub-document duplication).

    Containment c/min(n1,n2) is a ratio of integers like Jaccard —
    bit-identical cross-engine, no rounding. Same shingle self-join
    shape as dedup_ngram_jaccard (pairs meet only on shared shingles,
    never a cross join); the LSH banding path generates the candidate
    pairs at 100 TB and this scoring runs on candidates only."""
    sh = _shingles(spark, sf_dir)
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    scored = (
        common.join(ca, F.col("doc1") == F.col("ca.doc_id"))
        .join(cb, F.col("doc2") == F.col("cb.doc_id"))
        .select(
            "doc1",
            "doc2",
            (
                F.col("c").cast("double")
                / F.least(F.col("ca.n"), F.col("cb.n"))
            ).alias("containment"),
            (
                F.col("c").cast("double")
                / (F.col("ca.n") + F.col("cb.n") - F.col("c"))
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("containment") >= 0.8)


@register(
    "text_tfidf_top_terms",
    survey="north-star text tier: per-document TF-IDF top-3 terms — "
    "the keyword/topic signal beside vocab_top_ngrams (corpus-global) "
    "and text_perplexity_proxy (fluency): what makes THIS doc "
    "distinctive",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+'))
               AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM words GROUP BY 1, 2
    ),
    df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM words
      GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(floor(tf.tf * ln(n.n / df.df) * 10000.0 + 0.5) AS DOUBLE)
               / 10000.0 AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document by tf·ln(N/df).

    The score is floor-form-rounded BEFORE the within-doc ranking on
    both sides (ln() is libm-dependent in the last ulp; ranking on the
    raw double could flip near-ties across engines) and ties break on
    the term string.

    Scale shape: words explode narrow; tf groups on (doc, term); the
    document-frequency table is small by Zipf's law (vocabulary, not
    corpus, sized) and BROADCASTS onto the tf table — the same
    no-hot-term-shuffle argument as text_perplexity_proxy; the top-3
    window partitions by doc_id. N is a one-row literal-style
    aggregate."""
    words = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df = words.groupBy("term").agg(
        F.count_distinct("doc_id").cast("double").alias("df")
    )
    n = _docs(spark, sf_dir).agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            _r(F.col("tf") * F.log(F.col("n") / F.col("df")), 4).alias(
                "tfidf"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.select(
            "doc_id", "term", "tfidf", F.row_number().over(w).alias("rnk")
        )
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "text_chunk_fixed",
    survey="north-star: fixed-window document chunking with overlap "
    "(200-char window, 150-char stride) — the sequence-packing "
    "precursor every pretraining tokenizer pipeline runs before "
    "shard_pack_greedy",
    oracle="""
    SELECT d.doc_id,
           CAST(s.i AS INTEGER) AS chunk_idx,
           CAST(s.i * 150 + 1 AS BIGINT) AS chunk_start,
           substr(d.text, CAST(s.i * 150 + 1 AS BIGINT), 200) AS chunk_text,
           CAST(length(substr(d.text, CAST(s.i * 150 + 1 AS BIGINT), 200))
                AS BIGINT) AS chunk_len
    FROM documents d
    CROSS JOIN LATERAL (
      SELECT unnest(generate_series(
        0, CAST(floor((greatest(d.n_chars, 1) - 1) / 150.0) AS BIGINT))) AS i
    ) s
    """,
)
def text_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slice every document into 200-char windows advancing 150 chars
    (50-char overlap so no boundary-spanning n-gram is lost): chunk i
    covers [i·150, i·150+200), the last chunk is the short tail, and a
    doc shorter than one stride still yields exactly one chunk.

    Character windows stand in for token windows: the chunk boundary
    arithmetic, the explode shape, and the overlap semantics are
    identical once a tokenizer maps chars→tokens (token counting lives
    in text_token_count; a real deployment chunks on its output).

    Scale shape: sequence() + explode is a narrow per-row transform —
    rows fan out ~n_chars/stride with NO shuffle at all; chunks stream
    straight to the next stage (tokenize/pack). This is the canonical
    Spark spelling of per-doc windowing — the pandas equivalent
    iterates rows in Python. The 1-based chunk_start matches substr's
    1-based addressing on both engines."""
    d = _docs(spark, sf_dir)
    i = F.explode(
        F.sequence(
            F.lit(0),
            F.floor((F.greatest("n_chars", F.lit(1)) - 1) / F.lit(150.0)).cast(
                "long"
            ),
        )
    ).alias("i")
    base = d.select("doc_id", "text", i)
    start = (F.col("i") * 150 + 1).cast("long")
    chunk = F.substring(F.col("text"), start, F.lit(200))
    return base.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_idx"),
        start.alias("chunk_start"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("long").alias("chunk_len"),
    )


@register(
    "emb_pair_distance_audit",
    survey="north-star: embedding-space health audit — cosine over a "
    "content-addressed sample of vector pairs (collapse/anisotropy "
    "check before any ANN index is trusted)",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM embeddings),
    draws AS (
      SELECT s.i,
             ('0x' || substr(md5(CAST(s.i AS VARCHAR) || '#a'), 1, 12))
               ::BIGINT % (SELECT nv FROM n) AS id_a,
             ('0x' || substr(md5(CAST(s.i AS VARCHAR) || '#b'), 1, 12))
               ::BIGINT % (SELECT nv FROM n) AS id_b
      FROM (SELECT unnest(generate_series(0, 199)) AS i) s
    ),
    pairs AS (
      SELECT i, least(id_a, id_b) AS id_lo, greatest(id_a, id_b) AS id_hi
      FROM draws WHERE id_a <> id_b
    )
    SELECT p.i, p.id_lo, p.id_hi,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4) AS cosine
    FROM pairs p
    JOIN embeddings a ON a.vec_id = p.id_lo
    JOIN embeddings b ON b.vec_id = p.id_hi
    """,
)
def emb_pair_distance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity over 200 md5-addressed random vector pairs:
    the cheap standing audit that catches embedding collapse (cosines
    bunching near 1), dead dimensions, or a drifting encoder — run it
    per ingest batch and alert on distribution shift. Content-addressed
    draws (same trick as sample_negatives_per_user) make the panel
    reproducible across engines and reruns, so shifts mean the DATA
    moved, not the sampler.

    Scale shape: the pair spine is 200 rows joined twice against the
    vector table on its key — two broadcast lookups, no pairwise
    blowup; the corpus-size constant is a one-row subquery (inlined
    literal on the Spark side)."""
    e = _embs(spark, sf_dir)
    nv = e.count()
    draws = spark.range(0, 200).select(
        F.col("id").cast("int").alias("i"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("id").cast("string"), F.lit("#a"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % F.lit(nv)
        ).alias("id_a"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("id").cast("string"), F.lit("#b"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % F.lit(nv)
        ).alias("id_b"),
    )
    pairs = draws.filter(F.col("id_a") != F.col("id_b")).select(
        "i",
        F.least("id_a", "id_b").alias("id_lo"),
        F.greatest("id_a", "id_b").alias("id_hi"),
    )
    a = e.select(F.col("vec_id").alias("id_lo"), F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("id_hi"), F.col("embedding").alias("emb_b"))
    cos = _norm_dot(F.col("emb_a"), F.col("emb_b"))
    return (
        pairs.join(a, "id_lo")
        .join(b, "id_hi")
        .select("i", "id_lo", "id_hi", _r(cos, 4).alias("cosine"))
    )


@register(
    "dedup_canonical_select",
    survey="north-star: canonical selection — the keep/drop list that "
    "makes dedup actionable: every doc mapped to its near-dup cluster "
    "(singletons included), the longest doc per cluster kept",
    oracle=REGISTRY["dedup_connected_components"].oracle[
        : REGISTRY["dedup_connected_components"].oracle.rindex(
            "SELECT src AS doc_id"
        )
    ]
    + """, comp AS (
      SELECT src AS v, min(dst) AS comp FROM reach GROUP BY src
    ),
    allc AS (
      SELECT d.doc_id,
             coalesce(c.comp, d.doc_id) AS component,
             d.n_chars
      FROM documents d LEFT JOIN comp c ON c.v = d.doc_id
    ),
    ranked AS (
      SELECT doc_id, component, n_chars,
             row_number() OVER (PARTITION BY component
                 ORDER BY n_chars DESC, doc_id) AS rn,
             first_value(doc_id) OVER (PARTITION BY component
                 ORDER BY n_chars DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS canonical_doc
      FROM allc
    )
    SELECT doc_id, component, canonical_doc,
           CAST(rn = 1 AS BOOLEAN) AS is_canonical
    FROM ranked
    """,
)
def dedup_canonical_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn cluster labels into the dedup DECISION: every document gets
    its component (singletons are their own), the longest document per
    component (doc_id tie-break) is canonical, and the rest are the
    drop list. This is the table a corpus build actually consumes —
    clusters alone don't delete anything.

    Composes dedup_connected_components' labels (reusing its
    checkpointed propagation loop verbatim) with the documents table;
    the pick is a per-component window over |docs| rows. The oracle
    extends the SAME recursive-CTE closure with the identical
    selection SQL, so the full pipeline — shingle → minhash → LSH →
    verify → cluster → select — is value-hash-checked end to end."""
    cc = (
        REGISTRY["dedup_connected_components"]
        .builder(spark, sf_dir)
        .select(F.col("doc_id").alias("v"), F.col("component").alias("comp"))
    )
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    allc = docs.join(cc, docs.doc_id == cc.v, "left").select(
        "doc_id",
        F.coalesce("comp", F.col("doc_id")).alias("component"),
        "n_chars",
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = allc.select(
        "doc_id",
        "component",
        F.row_number().over(w).alias("rn"),
        F.first("doc_id")
        .over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .alias("canonical_doc"),
    )
    return ranked.select(
        "doc_id",
        "component",
        "canonical_doc",
        (F.col("rn") == 1).alias("is_canonical"),
    )


@register(
    "text_readability",
    survey="north-star: Flesch-style readability scoring — words, "
    "sentences, and a vowel-group syllable proxy, all exact integer "
    "counts, composed into the classic grade formula",
    oracle=r"""
    WITH counts AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
             greatest(len(regexp_split_to_array(text, '[.!?]+')) - 1, 1)
               AS n_sents,
             greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS n_syll
      FROM documents
    )
    SELECT doc_id, source,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sents AS BIGINT) AS n_sents,
           CAST(n_syll AS BIGINT) AS n_syll,
           round(206.835 - 1.015 * (n_words / CAST(n_sents AS DOUBLE))
                 - 84.6 * (n_syll / CAST(n_words AS DOUBLE)), 4)
             AS flesch
    FROM counts WHERE n_words > 0
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document from three exact counts:
    whitespace words, sentence terminators, and vowel-group runs as
    the syllable proxy (the standard cheap stand-in — exact syllable
    counting needs a dictionary). The formula is plain arithmetic on
    integers, rounded once at output; regex counting is identical on
    both engines. Readability joins length/punctuation in the
    quality-gate toolbox: a corpus drifting toward extreme scores is
    either boilerplate or noise.

    Scale shape: a narrow per-row projection — no shuffle at all."""
    d = _docs(spark, sf_dir)
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_sents = F.greatest(
        F.size(F.split(F.col("text"), r"[.!?]+")) - 1, F.lit(1)
    )
    n_syll = F.greatest(
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"[aeiouy]+"), F.lit(0))),
        F.lit(1),
    )
    counts = d.select(
        "doc_id",
        "source",
        n_words.cast("bigint").alias("n_words"),
        n_sents.cast("bigint").alias("n_sents"),
        n_syll.cast("bigint").alias("n_syll"),
    ).filter(F.col("n_words") > 0)
    return counts.select(
        "doc_id",
        "source",
        "n_words",
        "n_sents",
        "n_syll",
        _r(
            F.lit(206.835)
            - 1.015 * (F.col("n_words") / F.col("n_sents").cast("double"))
            - 84.6 * (F.col("n_syll") / F.col("n_words").cast("double")),
            4,
        ).alias("flesch"),
    )


# ------------------------- content-defined chunking (round-8 preview)

_CDC_W = 32  # rolling-window width the cut decision hashes
_CDC_D = 64  # cut when window-hash % D == 0 -> expected ~D-char chunks
_CDC_MIN = 16  # chunks shorter than this are dropped from the inventory


def chunk_cdc(docs: DataFrame) -> DataFrame:
    """Content-defined chunks of each document (FastCDC-lite): a cut
    lands AFTER position i (i ≥ W) exactly when the hash of the
    trailing W-char window satisfies H ≡ 0 (mod D), with
    H = first 8 hex chars of md5(window) as an integer — deterministic,
    engine-portable, and a pure function of the local W chars.

    THE property tiling (dedup_substring_exact) lacks: boundaries are
    content-addressed, so inserting or deleting a prefix shifts every
    offset but reproduces the IDENTICAL chunk set over the unchanged
    region (only the chunks overlapping the edit change) — a copy
    pasted at ANY offset yields the same chunk hashes. Pinned in
    tests/test_textops_graph.py against a Python reference and on the
    exact misaligned planted-duplicate case the tiling test documents
    as missed.

    Variant spelled precisely (this is the whole definition): every
    qualifying position cuts (no min-gap skip, so a pathological run
    of qualifying windows yields short chunks — dropped below _CDC_MIN
    at the consumer), and a stretch with no qualifying window stays
    one long chunk (no max-size force-split). Both simplifications
    keep the chunking a stateless per-position decision — the form
    that runs as narrow in-row JVM expressions (transform/filter/
    zip_with; no sequential scan, no UDF, no shuffle).

    Returns (doc_id, chunk_start [1-based], chunk) exploded one row
    per chunk. Consumed by the registered dedup_substring_cdc query;
    the promotion was round 8's sanctioned registry addition
    (VERDICT r7 #2).

    Plan shape (r15): the bounds array is LAMBDA-BOUND — computed once
    inside ``transform(array(<bounds>), b -> zip_with(...))[0]`` — not
    carried as a withColumn the consumers reference. The withColumn
    form let projection collapse inline the full per-position md5 scan
    into every consumer: the optimized plan held the O(len) cut scan
    NINE times (measured: 10 md5 / 3 zip_with occurrences; ~1.0 s at
    sf0.1). A lambda variable is opaque to the optimizer, so the scan
    is evaluated exactly once per document (2 md5 / 1 zip_with; ~0.5 s
    same-session interleaved A/B, results bit-identical)."""
    # Guard the sequence: for texts shorter than W, sequence(W, len)
    # would DESCEND (Spark's default step is -1 when start > stop),
    # emitting phantom cut positions past end-of-text. Docs shorter
    # than the window have no qualifying position by definition and
    # must yield exactly one whole-text chunk, like the Python
    # reference's empty range(w, len+1).
    cuts = (
        f"IF(length(text) >= {_CDC_W}, "
        f"filter(transform(sequence({_CDC_W}, length(text)), i -> "
        f"IF(conv(substring(md5(substring(text, i - {_CDC_W} + 1, "
        f"{_CDC_W})), 1, 8), 16, 10) % {_CDC_D} = 0, i, -1)), "
        "x -> x > 0), "
        "array())"
    )
    bounds = (
        f"array_distinct(concat(array(0), {cuts}, array(length(text))))"
    )
    chunks = F.expr(
        f"transform(array({bounds}), b -> "
        "zip_with(slice(b, 1, size(b) - 1), "
        "slice(b, 2, size(b) - 1), "
        "(s, e) -> struct(s + 1 AS chunk_start, "
        "substring(text, s + 1, e - s) AS chunk)))[0]"
    )
    return (
        docs.select("doc_id", "text")
        .filter(F.length("text") > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", F.col("c.chunk_start"), F.col("c.chunk"))
    )


def _cdc_chunks_oracle_cte(table: str) -> str:
    """The DuckDB spelling of chunk_cdc's exact definition, as a WITH
    prefix ending in ``ch(doc_id, chunk_start, chunk)``. ONE source of
    truth: the registered dedup_substring_cdc oracle and the unicode
    differential test (tests/test_textops_graph.py) both assemble
    their SQL from this fragment, so the W/D constants and the
    chunking spelling cannot drift between them."""
    return f"""
    WITH cuts AS (
      SELECT doc_id, text,
             CASE WHEN length(text) >= {_CDC_W} THEN
               list_filter(list_transform(
                 range({_CDC_W}, length(text) + 1),
                 i -> CASE WHEN CAST('0x' ||
                        substr(md5(substr(text, CAST(i - {_CDC_W} + 1
                          AS INTEGER), {_CDC_W})), 1, 8) AS BIGINT)
                        % {_CDC_D} = 0
                      THEN i ELSE -1 END),
                 x -> x > 0)
             ELSE [] END AS cs
      FROM {table} WHERE length(text) > 0
    ),
    bounds AS (
      SELECT doc_id, text,
             unnest(list_sort(list_distinct(list_concat(
               list_concat([CAST(0 AS BIGINT)], cs),
               [CAST(length(text) AS BIGINT)])))) AS s
      FROM cuts
    ),
    spans AS (
      SELECT doc_id, text, s,
             lead(s) OVER (PARTITION BY doc_id ORDER BY s) AS e
      FROM bounds
    ),
    ch AS (
      SELECT doc_id, CAST(s + 1 AS INTEGER) AS chunk_start,
             substr(text, CAST(s + 1 AS INTEGER), CAST(e - s AS INTEGER))
               AS chunk
      FROM spans WHERE e IS NOT NULL
    )"""


@register(
    "dedup_substring_cdc",
    survey="north-star dedup tier: content-defined-chunking duplicated-"
    "span detection — closes dedup_substring_exact's documented "
    "misalignment gap (tiling misses copies pasted at offsets not "
    "congruent mod the stride; CDC boundaries are content-addressed, "
    "so the same bytes chunk identically at any paste offset)",
    oracle=_cdc_chunks_oracle_cte("documents")
    + f"""
    SELECT md5(chunk) AS span_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM ch
    WHERE length(chunk) >= {_CDC_MIN}
    GROUP BY 1
    HAVING count(DISTINCT doc_id) > 1
    """,
)
def dedup_substring_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated spans via content-defined chunks —
    the alignment-robust sibling of dedup_substring_exact (same output
    shape: span_hash, n_docs, n_occurrences), catching copies pasted
    at arbitrary offsets. Scale shape identical: narrow in-row chunk
    expansion, one groupBy on uniformly distributed chunk hashes
    carrying (hash, doc) pairs only.

    Oracle notes (engine-portable spellings): Spark's
    conv(hex, 16, 10) ≡ DuckDB's CAST('0x' || hex AS BIGINT) — both
    exact on the 8-hex-char (32-bit) prefix; Spark's
    sequence(W, len) needs the ascending guard (length >= W) that
    DuckDB's range() makes implicit (empty when start > stop); the
    consecutive-bound pairing is zip_with over slices on the Spark
    side and a lead() window in SQL — same pairs."""
    ch = chunk_cdc(_docs(spark, sf_dir)).filter(
        F.length("chunk") >= _CDC_MIN
    )
    return (
        ch.select("doc_id", F.md5("chunk").alias("span_hash"))
        .groupBy("span_hash")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") > 1)
    )

