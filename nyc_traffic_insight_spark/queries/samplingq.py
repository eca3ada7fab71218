"""Catalog: deterministic sampling + cardinality/membership sketches.

Training-data pipelines sample and profile before they transform: a
stratified sample to balance sources, a fixed-size per-stratum sample
for eval sets, a cardinality estimate to size the dedup job, a
membership filter to subset a 100 TB fact table against a small
dimension without shuffling it. All four are implemented here on the
same determinism contract as textops.py: md5() is the only randomness,
so every operator gets a full DuckDB value-hash oracle — "sampling" and
"sketching" do not mean "rows-only check".

Scale notes per operator; the common theme is that none of these
shuffle the big table. Stratified sampling is a pure filter (map-side,
pushdown-friendly); the reservoir analog shuffles only (stratum, k)
survivors; HLL registers are a 64-row aggregate with map-side partial
max; the Bloom build side is tiny and the probe is a broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.functions.rounding import (
    exact_sum,
    r as _r,
    r4_sql,
)
from nyc_traffic_insight_spark.queries import register
from nyc_traffic_insight_spark.session import materialize
from nyc_traffic_insight_spark.sources import load_table

# ------------------------------------------------------------- sampling

# Deterministic per-row "random" draw in [0, 100): low 8 hex chars of
# md5(doc_id) mod 100. Bit-identical in Spark and DuckDB, uniform
# enough for rate-based sampling (2^32 % 100 bias is ~1e-8).
_DRAW_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT % 100"

# Per-language sampling rates (percent): downsample dominant English,
# keep mid-resource languages, upsample nothing (sampling never
# fabricates rows — oversampling lives in union_oversample).
_RATES_SQL = (
    "CASE lang WHEN 'en' THEN 25 WHEN 'zh' THEN 60 WHEN 'de' THEN 60 "
    "ELSE 90 END"
)


def _draw(col: str = "doc_id") -> F.Column:
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 25, 8), 16, 10)
        .cast("bigint")
        % 100
    )


@register(
    "sample_stratified",
    survey="north-star: deterministic stratified sampling (per-language "
    "rates; language-rebalancing a pretraining corpus)",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_DRAW_SQL} < {_RATES_SQL}
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-based stratified sample: keep a row iff its deterministic
    md5 draw falls under its stratum's rate.

    Scale shape: a pure per-row filter — no shuffle, no stratum-size
    pre-pass, trivially map-side at 100 TB, and reproducible across
    runs/retries because the draw is content-addressed (md5 of the key),
    not an RNG. This is how you language-rebalance a pretraining corpus
    without ever materializing per-language partitions. The md5 never
    reaches parquet (computed post-scan), but the scan itself still
    prunes to the three projected columns."""
    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 25)
        .when(F.col("lang").isin("zh", "de"), 60)
        .otherwise(90)
    )
    return docs.filter(_draw() < rate).select("doc_id", "lang", "source")


@register(
    "sample_reservoir_topk",
    survey="north-star: fixed-size per-stratum sample (deterministic "
    "reservoir analog — k smallest md5 draws per source)",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT source, doc_id, rn FROM ranked WHERE rn <= 5
    """,
)
def sample_reservoir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size (k=5) uniform sample per stratum: rank rows inside
    each source by their md5 draw and keep the k smallest — the
    deterministic analog of reservoir sampling / Efraimidis-Spirakis
    A-Res, with the md5 string as the priority key.

    Scale shape: row_number over (source) needs each stratum on one
    partition, which is exactly a reservoir's semantics — but Spark
    pre-reduces it: rank-k selection has a map-side combine analog
    (keep k smallest per partition, merge), and AQE handles a skewed
    stratum. For stratum counts ≫ k, swap the window for
    groupBy(source).agg(slice(array_sort(collect_list(...)), 1, k)) to
    force the partial-aggregate path; at k=5 both plans shuffle only
    survivors of each map task."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id", "rn")
    )


# -------------------------------------------------------------- sketches

# HyperLogLog over a 60-bit md5-derived hash, m=64 registers (p=6).
# bucket: first 2 hex chars mod 64 (256 % 64 == 0 → uniform).
# rho: 1 + leading-zero count of the next 13 hex chars (52 bits),
# computed on the hex STRING — 4 bits per leading '0' char plus the
# leading zeros inside the first non-zero hex digit — because string
# ops are bit-identical across engines while float log2 is not.
_HLL_ALPHA = 0.709  # alpha_64, Flajolet et al. 2007
_HLL_M = 64


def _hll_bucket_rho(hx) -> tuple:
    """The (bucket, rho) register-update columns for an md5 hex column
    — the arithmetic above, spelled as the oracles' `rho` CTEs spell
    it."""
    stripped = F.regexp_replace(F.substring(hx, 3, 13), "^0+", "")
    first = F.substring(stripped, 1, 1)
    lz_in_digit = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    return (
        (F.conv(F.substring(hx, 1, 2), 16, 10).cast("bigint") % _HLL_M).alias(
            "bucket"
        ),
        (4 * (13 - F.length(stripped)) + lz_in_digit + 1).alias("rho"),
    )


@register(
    "sketch_hll",
    survey="north-star: HyperLogLog distinct-count sketch (m=64, "
    "md5-deterministic -> full oracle; mergeable registers)",
    oracle=f"""
    WITH h AS (
      SELECT md5(CAST(l_orderkey AS VARCHAR)) AS hx FROM lineitem
    ),
    parts AS (
      SELECT ('0x' || substr(hx, 1, 2))::BIGINT % {_HLL_M} AS bucket,
             regexp_replace(substr(hx, 3, 13), '^0+', '') AS stripped
      FROM h
    ),
    rho AS (
      SELECT bucket,
             4 * (13 - length(stripped))
             + CASE substr(stripped, 1, 1)
                 WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                 WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                 WHEN '7' THEN 1 ELSE 0 END
             + 1 AS rho
      FROM parts
    ),
    regs AS (
      SELECT bucket, max(rho) AS max_rho FROM rho GROUP BY bucket
    )
    SELECT {_HLL_M} AS m,
           count(*) AS buckets_used,
           CAST(sum(max_rho) AS BIGINT) AS reg_sum,
           round({_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
             / (sum(power(2.0, -max_rho)) + ({_HLL_M} - count(*))), 4)
             AS hll_estimate
    FROM regs
    """,
)
def sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count of lineitem.l_orderkey: 64 registers,
    each the max leading-zero rank of a 52-bit md5-derived hash slice.

    Scale shape: the entire 100 TB column collapses to a 64-row register
    table with map-side partial max — this is THE sketch for sizing a
    dedup job before running it, and the registers are mergeable across
    shards/days by the same groupBy(bucket).max(rho). The register
    columns (buckets_used, reg_sum) are exact integers; the estimate is
    one power-sum + divide whose last ulp differs between Spark's pow
    and DuckDB's power, so per the catalog convention it is round(,4)-ed
    on both sides. Two cross-engine hazards hit this query historically:
    the raw float estimate (fixed via round) and DuckDB widening
    sum(max_rho) to HUGEINT while Spark emits BIGINT — the oracle now
    CASTs reg_sum to BIGINT per the catalog's integer-sum convention.
    The small-range linear-counting correction (n < 2.5m = 160, needs
    ln()) is deliberately left to the caller because cross-engine ln()
    is not bit-stable. Accuracy (~1/sqrt(64) = 13% rel err) is pinned in
    tests/test_sketches.py."""
    li = load_table(spark, sf_dir, "lineitem")
    regs = (
        li.select(*_hll_bucket_rho(F.md5(F.col("l_orderkey").cast("string"))))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )
    return regs.agg(
        F.lit(_HLL_M).alias("m"),
        F.count("*").alias("buckets_used"),
        F.sum("max_rho").alias("reg_sum"),
        _r(
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
            / (
                F.sum(F.pow(F.lit(2.0), -F.col("max_rho")))
                + (F.lit(_HLL_M) - F.count("*"))
            ),
            4,
        ).alias("hll_estimate"),
    )


# Bloom filter: m=16384 bits, k=3 md5-seeded hash functions. Build over
# customer keys, probe with part keys (half the probe range lies above
# the customer range -> real negatives to exercise the filter). Sized
# for the sf0.01 build side: n=1500 keys -> kn/m = 0.27 of bits set ~
# e^-style load 1-e^(-kn/m) = 0.24, fp = 0.24^3 ~ 1.4%.
_BLOOM_M = 16384
_BLOOM_K = 3


def _bloom_pos_sql(key_expr: str) -> str:
    return " , ".join(
        f"('0x' || substr(md5('{i}_' || CAST({key_expr} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {_BLOOM_M}"
        for i in range(_BLOOM_K)
    )


def _bloom_positions(key: F.Column) -> F.Column:
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}_"), key.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % _BLOOM_M
            for i in range(_BLOOM_K)
        ]
    )


@register(
    "sketch_bloom_filter",
    survey="north-star: Bloom-filter membership (m=16384, k=3, "
    "md5-deterministic build over customer keys, broadcast probe)",
    oracle=f"""
    WITH built AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest([{_bloom_pos_sql('c_custkey')}]) AS pos
        FROM customer
      )
    ),
    probe AS (
      SELECT p_partkey AS probe_id,
             unnest([{_bloom_pos_sql('p_partkey')}]) AS pos
      FROM part
    )
    SELECT probe.probe_id,
           (count(built.pos) = {_BLOOM_K}) AS maybe_present
    FROM probe LEFT JOIN built USING (pos)
    GROUP BY probe.probe_id
    """,
)
def sketch_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe: build a 4096-bit filter from
    customer keys (k=3 md5-derived bit positions each), then classify
    every part key as maybe-present / definitely-absent.

    Scale shape: this is the sketch behind semi-join reduction — the
    build side collapses to <=16384 distinct positions regardless of
    input size (map-side distinct, then a tiny dedup of <=16384 ints),
    and the probe is a BROADCAST join of that position set against the
    big table: the 100 TB side never shuffles, matching how Spark's own
    runtime bloom-filter join pushdown
    (spark.sql.optimizer.runtime.bloomFilter.enabled) subsets a fact
    scan by a dimension predicate. No false negatives by construction
    (Bloom guarantee, pinned in tests/test_sampling.py); false positives
    at ~(1-e^{{-kn/m}})^k ~ 1.4% for n=1500."""
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    built = (
        cust.select(
            F.explode(_bloom_positions(F.col("c_custkey"))).alias("pos")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probe = part.select(
        F.col("p_partkey").alias("probe_id"),
        F.explode(_bloom_positions(F.col("p_partkey"))).alias("pos"),
    )
    return (
        probe.join(F.broadcast(built), "pos", "left")
        .groupBy("probe_id")
        .agg((F.count("hit") == _BLOOM_K).alias("maybe_present"))
    )


@register(
    "text_pii_scrub",
    survey="north-star: PII redaction pass (regex email/URL scrub + "
    "match counting; deterministic injected fixture since the synthetic "
    "corpus carries no PII)",
    oracle="""
    WITH enriched AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or https://ex.com/d/'
                  || CAST(doc_id AS VARCHAR) AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.]+')) AS n_emails,
           len(regexp_extract_all(t, 'https://[^ ]+')) AS n_urls,
           regexp_replace(
             regexp_replace(t, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
             'https://[^ ]+', '<URL>', 'g') AS clean_text
    FROM enriched
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus: count then mask email- and
    URL-shaped spans. The corpus is synthetic word-salad with no PII, so
    a deterministic fixture span is appended per doc (same expression in
    both engines) — the regexes do real work and the oracle hash-checks
    both the counts and the redacted text.

    Patterns stay in the RE2 ∩ java.util.regex common dialect (character
    classes + quantifiers, no lookaround/backrefs) so Spark and DuckDB
    match identical spans.

    Scale shape: pure per-row map — no shuffle, whole-stage codegen
    string ops, pushdown-friendly. This is the shape of every
    compliance pass (PII, toxicity masks, boilerplate strip) in a
    pretraining pipeline: embarrassingly parallel, bounded by scan
    throughput."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or https://ex.com/d/"),
        F.col("doc_id").cast("string"),
    )
    email, url = "[a-z0-9._]+@[a-z0-9.]+", "https://[^ ]+"
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(email), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(url), F.lit(0))).alias("n_urls"),
        F.regexp_replace(
            F.regexp_replace(t, email, "<EMAIL>"), url, "<URL>"
        ).alias("clean_text"),
    )


@register(
    "agg_percentile_exact",
    survey="A-extension: exact grouped percentiles (p50/p90/p99 linear "
    "interpolation; the profile-before-you-sample companion to "
    "sketch_tdigest's approximate path)",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS p50,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 6) AS p90,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.99), 6) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles via Spark's percentile() (linear
    interpolation at rank 1+(n-1)p — the same definition DuckDB's
    quantile_cont uses, so the oracle hash-matches after shared
    floor-form rounding).

    Scale shape: exact percentile buffers each group's values on the
    reducer — correct and cheap for LOW-cardinality groups (3 flags here
    = 3 reducers, each holding one group in memory), which is the
    profile-a-dimension use case. For high-cardinality or
    memory-unbounded groups the mergeable path is sketch_tdigest
    (aggregates.py) — this pair documents the exact/approximate
    trade."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("double")
    return li.groupBy("l_returnflag").agg(
        _r(F.percentile(q, F.lit(0.5)), 6).alias("p50"),
        _r(F.percentile(q, F.lit(0.9)), 6).alias("p90"),
        _r(F.percentile(q, F.lit(0.99)), 6).alias("p99"),
    )


@register(
    "sketch_hll_by_group",
    survey="north-star: grouped HyperLogLog — per-event_type distinct "
    "users, the mergeable per-key rollup shape",
    oracle=f"""
    WITH h AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx FROM events
    ),
    parts AS (
      SELECT event_type,
             ('0x' || substr(hx, 1, 2))::BIGINT % {_HLL_M} AS bucket,
             regexp_replace(substr(hx, 3, 13), '^0+', '') AS stripped
      FROM h
    ),
    rho AS (
      SELECT event_type, bucket,
             4 * (13 - length(stripped))
             + CASE substr(stripped, 1, 1)
                 WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                 WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                 WHEN '7' THEN 1 ELSE 0 END
             + 1 AS rho
      FROM parts
    ),
    regs AS (
      SELECT event_type, bucket, max(rho) AS max_rho
      FROM rho GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS buckets_used,
           round({_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
             / (sum(power(2.0, -max_rho)) + ({_HLL_M} - count(*))), 4)
             AS hll_estimate
    FROM regs GROUP BY 1
    """,
)
def sketch_hll_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type HLL distinct-user estimate: the grouped form of
    sketch_hll, whose register table keys on (group, bucket).

    This is the rollup shape that matters operationally: per-day /
    per-shard register tables (|groups| × 64 rows) are tiny, mergeable
    by the same groupBy(group, bucket).max(rho) — so "distinct users
    per type per day" rolls up to per-month WITHOUT rescanning events,
    and the same map-side partial max collapses the 100 TB fact scan.
    Estimate rounded to 4dp on both sides per the catalog convention
    (see sketch_hll)."""
    ev = load_table(spark, sf_dir, "events")
    regs = (
        ev.select(
            "event_type", *_hll_bucket_rho(F.md5(F.col("user_id").cast("string")))
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )
    return regs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("buckets_used"),
        _r(
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
            / (
                F.sum(F.pow(F.lit(2.0), -F.col("max_rho")))
                + (F.lit(_HLL_M) - F.count("*"))
            ),
            4,
        ).alias("hll_estimate"),
    )


@register(
    "join_bloom_prefilter",
    survey="J/sketch bridge: bloom-prefiltered semi-join reduction — "
    "the fact side is thinned through the dimension's Bloom filter "
    "BEFORE the exact join (what Spark's runtime bloomFilter join "
    "pushdown does internally, spelled explicitly); the filter is "
    "semantically transparent, so the oracle is the plain join",
    oracle="""
    WITH dim AS (
      SELECT o_orderkey, o_orderdate FROM orders
      WHERE o_orderpriority = '1-URGENT'
    )
    SELECT CAST(year(d.o_orderdate) AS INTEGER) AS yr,
           CAST(month(d.o_orderdate) AS INTEGER) AS mth,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000, 4) AS revenue
    FROM lineitem l JOIN dim d ON l.l_orderkey = d.o_orderkey
    GROUP BY 1, 2
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order revenue by month, with the lineitem scan reduced
    through a Bloom filter built from the urgent-order keys before the
    exact join. Correctness does not depend on the filter (false
    positives are eliminated by the exact join; false negatives are
    impossible), so the DuckDB oracle is the unfiltered join — the
    value hash proves the bloom pass is transparent.

    Scale shape: the filter's bit positions collapse to ≤16384 distinct
    ints regardless of dimension size; each of the k=3 probe checks is
    a BROADCAST left-semi join, so the 100 TB fact side is thinned
    row-by-row with NO shuffle before the (also broadcastable) exact
    join. This is precisely what
    spark.sql.optimizer.runtime.bloomFilter.enabled injects at plan
    time; spelling it as DataFrame ops makes the mechanism testable
    and keeps it available when the optimizer declines (e.g. a
    non-equi residual or a disabled AQE)."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderdate")
    )
    built = (
        dim.select(
            F.explode(_bloom_positions(F.col("o_orderkey"))).alias("pos")
        )
        .distinct()
    )
    probe_pos = _bloom_positions(F.col("l_orderkey"))
    thinned = li.select(
        "l_orderkey", "l_extendedprice", "l_discount", probe_pos.alias("pp")
    )
    for i in range(_BLOOM_K):
        thinned = thinned.join(
            F.broadcast(built),
            thinned["pp"][i] == built["pos"],
            "left_semi",
        )
    return (
        thinned.join(F.broadcast(dim), thinned.l_orderkey == dim.o_orderkey)
        .groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mth"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _r(
                exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 4
            ).alias("revenue"),
        )
    )


@register(
    "split_deterministic",
    survey="M5/O5 hardening: content-addressed train/test split with a "
    "FULL value oracle — the deterministic complement to the rows-only "
    "engine-seeded split_random (same 85/15 contract, reproducible "
    "across engines, runs, and retries)",
    oracle=f"""
    SELECT event_id, user_id, value,
           CASE WHEN {_DRAW_SQL.replace("doc_id", "event_id")} < 85
                THEN 'train' ELSE 'test' END AS split
    FROM events
    """,
)
def split_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """85/15 split decided by each row's md5 draw — the split every
    production pipeline should use instead of an RNG: retries, engine
    swaps, and re-runs assign every row identically, and the test set
    can be reconstructed from keys alone. split_random (engine-seeded
    randomSplit) stays registered beside this as the API-parity entry;
    this one carries the value hash.

    Scale shape: a pure per-row projection — no shuffle, no
    coordination, trivially map-side at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.when(_draw("event_id") < 85, "train")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------- HLL set algebra

# Shared register-building fragments for the overlap query below. The
# hash → bucket/rho arithmetic is identical to sketch_hll /
# sketch_hll_by_group (md5-deterministic, string-domain leading-zero
# count); factored here as text + column builders so the union-merge
# query cannot drift from the base sketches.
_HLL_REGS_SQL = f"""
    SELECT event_type,
           ('0x' || substr(hx, 1, 2))::BIGINT % {_HLL_M} AS bucket,
           max(4 * (13 - length(stripped))
               + CASE substr(stripped, 1, 1)
                   WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                   WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                   WHEN '7' THEN 1 ELSE 0 END
               + 1) AS max_rho
    FROM (
      SELECT event_type, hx, regexp_replace(substr(hx, 3, 13), '^0+', '')
               AS stripped
      FROM (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
            FROM events)
    )
    GROUP BY 1, 2
"""

# estimate over a (bucket, max_rho) register group — plugged into a
# grouped SELECT on both sides
_HLL_EST_SQL = (
    f"round({_HLL_ALPHA} * {_HLL_M} * {_HLL_M} "
    f"/ (sum(power(2.0, -max_rho)) + ({_HLL_M} - count(*))), 4)"
)


def _hll_regs_df(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type", *_hll_bucket_rho(F.md5(F.col("user_id").cast("string")))
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("max_rho"))
        # materialized once: est_t, the pair spine, and both tagged
        # join legs all reuse the |types|x64 register table — without
        # this, lineage inlining re-scans the fact table per reference
        .transform(materialize)
    )


def _hll_est(count_col, powsum_col):
    return _r(
        F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
        / (powsum_col + (F.lit(_HLL_M) - count_col)),
        4,
    )


@register(
    "sketch_hll_overlap",
    survey="north-star: HLL set algebra — pairwise audience-overlap "
    "ESTIMATE from mergeable registers (inclusion-exclusion on "
    "elementwise-max union registers); the sketch twin of the exact "
    "agg_audience_overlap",
    oracle=f"""
    WITH regs AS ({_HLL_REGS_SQL}),
    est_t AS (
      SELECT event_type, {_HLL_EST_SQL} AS est FROM regs GROUP BY 1
    ),
    types AS (SELECT DISTINCT event_type FROM regs),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM types a JOIN types b ON a.event_type < b.event_type
    ),
    tagged AS (
      SELECT p.type_a, p.type_b, r.bucket, r.max_rho
      FROM pairs p JOIN regs r ON r.event_type = p.type_a
      UNION ALL
      SELECT p.type_a, p.type_b, r.bucket, r.max_rho
      FROM pairs p JOIN regs r ON r.event_type = p.type_b
    ),
    union_regs AS (
      SELECT type_a, type_b, bucket, max(max_rho) AS max_rho
      FROM tagged GROUP BY 1, 2, 3
    ),
    est_u AS (
      SELECT type_a, type_b, {_HLL_EST_SQL} AS est_union
      FROM union_regs GROUP BY 1, 2
    )
    SELECT u.type_a, u.type_b,
           ea.est AS est_a, eb.est AS est_b, u.est_union,
           round(ea.est + eb.est - u.est_union, 4) AS est_intersect,
           round((ea.est + eb.est - u.est_union) / u.est_union, 4)
             AS jaccard_est
    FROM est_u u
    JOIN est_t ea ON ea.event_type = u.type_a
    JOIN est_t eb ON eb.event_type = u.type_b
    """,
)
def sketch_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|A ∩ B| and Jaccard for every event-type pair WITHOUT touching
    the fact table per pair: per-type HLL registers (|types|×64 rows)
    merge by elementwise max into union registers, and inclusion-
    exclusion on the three estimates gives the intersection. This is
    the 100 TB shape for audience overlap — the exact twin
    (agg_audience_overlap) shuffles the full DISTINCT (type, user)
    projection, while this one scans facts once into registers and does
    ALL pair algebra on sketch rows. Register merge = max is exactly
    the HLL union property (Flajolet et al. 2007 §4).

    Determinism: registers are md5-derived (same as sketch_hll), each
    estimate is floor-form-rounded to 4dp BEFORE the inclusion-
    exclusion arithmetic, so the combined values are bit-identical
    cross-engine. Accuracy of the intersection is additive in the three
    estimates' errors (~13% at m=64 each) — production uses m=2¹⁴;
    m=64 keeps the register table readable in tests, and the relative
    ordering of pair overlaps is pinned against the exact twin in
    tests/test_sketches.py."""
    regs = _hll_regs_df(spark, sf_dir)
    est_t = regs.groupBy("event_type").agg(
        _hll_est(
            F.count(F.lit(1)),
            F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))),
        ).alias("est")
    )
    types = regs.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    tagged = pairs.join(
        regs.withColumnRenamed("event_type", "type_a"), "type_a"
    ).select("type_a", "type_b", "bucket", "max_rho").unionAll(
        pairs.join(
            regs.withColumnRenamed("event_type", "type_b"), "type_b"
        ).select("type_a", "type_b", "bucket", "max_rho")
    )
    union_regs = tagged.groupBy("type_a", "type_b", "bucket").agg(
        F.max("max_rho").alias("max_rho")
    )
    est_u = union_regs.groupBy("type_a", "type_b").agg(
        _hll_est(
            F.count(F.lit(1)),
            F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))),
        ).alias("est_union")
    )
    ea = est_t.select(
        F.col("event_type").alias("type_a"), F.col("est").alias("est_a")
    )
    eb = est_t.select(
        F.col("event_type").alias("type_b"), F.col("est").alias("est_b")
    )
    inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return (
        est_u.join(ea, "type_a")
        .join(eb, "type_b")
        .select(
            "type_a",
            "type_b",
            "est_a",
            "est_b",
            "est_union",
            _r(inter, 4).alias("est_intersect"),
            _r(inter / F.col("est_union"), 4).alias("jaccard_est"),
        )
    )


@register(
    "agg_wau_exact",
    survey="A-family extension: trailing-7-day distinct users per day "
    "(the WAU curve) — exact form via the ×7 spine-day fan-out, "
    "bounded by |day-user pairs|×7, tractable at report granularity",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM du),
    fanout AS (
      SELECT du.d + CAST(s.k || ' days' AS INTERVAL) AS spine_d, du.user_id
      FROM du CROSS JOIN LATERAL (
        SELECT unnest(generate_series(0, 6)) AS k
      ) s
    )
    SELECT strftime(CAST(f.spine_d AS DATE), '%Y-%m-%d') AS day,
           CAST(count(DISTINCT f.user_id) AS BIGINT) AS wau
    FROM fanout f JOIN days ON CAST(f.spine_d AS DATE) = days.d
    GROUP BY 1
    """,
)
def agg_wau_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weekly-active-users: for each calendar day, the distinct
    users active in the trailing 7 days. Sliding DISTINCT doesn't
    decompose into window partials (users repeat across days), so the
    exact form EXPLODES each deduplicated (day, user) row into the 7
    spine days it covers — a narrow ×7 fan-out, NOT a range join
    (which would plan a nested loop) — then count-distincts per spine
    day; the equi-join against the observed-day set trims spine days
    past the calendar edge. Input |day-user pairs|×7, fine while that
    table fits a shuffle. The sketch twin (sketch_hll_rolling below)
    is the 100 TB path: registers merge across days, users never
    re-enumerate.

    The deduplicated (day, user) table is materialized once
    (``materialize``) so the day spine derives from IT — without that,
    Spark inlines the lineage and pays a second full fact scan just to
    list the distinct days (the sketch_qdigest lesson)."""
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(
            F.date_trunc("day", "ts").cast("date").alias("d"), "user_id"
        )
        .distinct()
        .transform(materialize)
    )
    days = du.select("d").distinct().withColumnRenamed("d", "spine_d")
    fanout = du.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"),
        "d",
    ).select(F.expr("date_add(d, k)").alias("spine_d"), "user_id")
    return (
        fanout.join(days, "spine_d")
        .groupBy(F.date_format("spine_d", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


@register(
    "sketch_hll_rolling",
    survey="north-star: rolling-window HLL — trailing-7-day distinct-"
    "user ESTIMATE per day by merging per-day registers (the mergeable "
    "form of agg_wau_exact; facts scanned once, windows resolved on "
    "64-row register tables)",
    oracle=f"""
    WITH h AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             md5(CAST(user_id AS VARCHAR)) AS hx
      FROM events
    ),
    parts AS (
      SELECT d,
             ('0x' || substr(hx, 1, 2))::BIGINT % {_HLL_M} AS bucket,
             regexp_replace(substr(hx, 3, 13), '^0+', '') AS stripped
      FROM h
    ),
    regs AS (
      SELECT d, bucket,
             max(4 * (13 - length(stripped))
                 + CASE substr(stripped, 1, 1)
                     WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                     WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                     WHEN '7' THEN 1 ELSE 0 END
                 + 1) AS max_rho
      FROM parts GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT d FROM regs),
    fanout AS (
      SELECT CAST(r.d + CAST(s.k || ' days' AS INTERVAL) AS DATE) AS spine_d,
             r.bucket, r.max_rho
      FROM regs r CROSS JOIN LATERAL (
        SELECT unnest(generate_series(0, 6)) AS k
      ) s
    ),
    merged AS (
      SELECT f.spine_d, f.bucket, max(f.max_rho) AS max_rho
      FROM fanout f JOIN days ON f.spine_d = days.d
      GROUP BY 1, 2
    )
    SELECT strftime(spine_d, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS buckets_used,
           {_HLL_EST_SQL} AS wau_estimate
    FROM merged GROUP BY 1
    """,
)
def sketch_hll_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAU curve from sketches: one fact scan builds per-day HLL
    registers (|days| × 64 rows); each day's trailing-7 estimate is an
    elementwise-max merge of seven register sets. At 100 TB this is
    the only sane form — the exact twin re-enumerates every user in
    every window, while register merges cost |days| × 7 × 64 rows
    regardless of user count. Same md5 register arithmetic as
    sketch_hll (full value oracle); accuracy vs the exact twin is
    pinned in tests/test_sketches.py. The register table is
    materialized once (|days|×64 rows) so the day spine derives from
    it instead of a second full fact scan — the same
    lineage-inlining trap documented at sketch_qdigest."""
    ev = load_table(spark, sf_dir, "events")
    regs = (
        ev.select(
            F.date_trunc("day", "ts").cast("date").alias("d"),
            *_hll_bucket_rho(F.md5(F.col("user_id").cast("string"))),
        )
        .groupBy("d", "bucket")
        .agg(F.max("rho").alias("max_rho"))
    ).transform(materialize)
    days = regs.select("d").distinct().withColumnRenamed("d", "spine_d")
    fanout = regs.select(
        "bucket",
        "max_rho",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"),
        "d",
    ).select(F.expr("date_add(d, k)").alias("spine_d"), "bucket", "max_rho")
    merged = (
        fanout.join(days, "spine_d")
        .groupBy("spine_d", "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    return merged.groupBy(
        F.date_format("spine_d", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("buckets_used"),
        _hll_est(
            F.count(F.lit(1)),
            F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))),
        ).alias("wau_estimate"),
    )


# ------------- epoch-shuffle loader order (round-13 preview)
#
# Placement note: this section once HAD to sit above the UniMax
# corpus pipeline's register call — that call builds its oracle by
# importing textops, whose module body used to eagerly render
# pipeline_pretrain_order's oracle by importing THIS module's
# epoch_shuffle_oracle_sql back (importing samplingq first then
# failed unless the shuffle oracle was already defined). The r13
# review made that oracle LAZY (rendered in load_all after all
# imports), dissolving the constraint; the section order is kept,
# and tests/test_compare_harness.py pins the samplingq-first import
# in a subprocess so the whole class stays caught.
#
# The LAST deterministic step before tokens hit the trainer: a fresh
# global shuffle of the corpus every epoch, reproducible across
# restarts (the Megatron/NeMo data-loader contract — epoch e's order
# is a pure function of (corpus, e), no RNG state to checkpoint). The
# order is rank-of-hash: position(doc, e) = rank of md5(e || ':' ||
# doc_id) within the epoch. A naive rank is a GLOBAL row_number — the
# single-partition window this catalog bans on corpus-sized input —
# so the Spark side computes it with the SAME two-phase decomposition
# pack_context_windows established: bucket every doc by its hash's
# first two hex digits (256 ordered buckets), count per (epoch,
# bucket) — one map-side-combinable groupBy — exclusive-prefix the
# 256-row-per-epoch bucket table (window partitioned BY EPOCH, never
# global), broadcast the offsets back, and rank WITHIN (epoch,
# bucket) partitions (~n/256 rows each). Because the bucket is a
# PREFIX of the hash, (bucket, hash) order equals hash order, and the
# composed rank equals the oracle's flat row_number exactly.
#
# Scale shape: one groupBy to 256·E rows, one bounded window, one
# broadcast join, one within-bucket window — no corpus-sized global
# sort anywhere; at 10^10 docs each bucket partition holds ~4·10^7
# rows, and the bucket width (2 hex digits here) widens with the
# corpus the same way _PACK_BUCKET recurses. Registered r13 (the
# register call follows epoch_shuffle_oracle_sql below).

_SHUFFLE_EPOCHS = 2  # epochs emitted by the registered form


def epoch_shuffle_frame(
    d: DataFrame, epochs: int, spark: SparkSession
) -> DataFrame:
    """Two-phase epoch-shuffle rank over a (doc_id) frame. Output:
    (epoch, doc_id, pos) — pos is the 0-based position of the doc in
    epoch's deterministic order, a permutation of [0, n) per epoch."""
    e = F.broadcast(
        spark.range(epochs).select(F.col("id").cast("bigint").alias("epoch"))
    )
    h = F.md5(
        F.concat_ws(
            ":", F.col("epoch").cast("string"), F.col("doc_id").cast("string")
        )
    )
    hashed = (
        d.select("doc_id")
        .crossJoin(e)
        .select("epoch", "doc_id", h.alias("h"))
        .withColumn("bkt", F.substring("h", 1, 2))
    )
    bcounts = hashed.groupBy("epoch", "bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("bn")
    )
    wb = (
        Window.partitionBy("epoch")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = bcounts.select(
        "epoch",
        "bkt",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("off"),
    )
    win = Window.partitionBy("epoch", "bkt").orderBy("h", "doc_id")
    return (
        hashed.join(F.broadcast(boff), ["epoch", "bkt"])
        .withColumn("rn", F.row_number().over(win).cast("bigint"))
        .select(
            "epoch",
            "doc_id",
            (F.col("off") + F.col("rn") - 1).cast("bigint").alias("pos"),
        )
    )


def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffle over the documents
    table: (epoch, doc_id, pos) for _SHUFFLE_EPOCHS epochs, pos a
    permutation of [0, n) per epoch (registered r13; r13 preview)."""
    d = load_table(spark, sf_dir, "documents")
    return epoch_shuffle_frame(d, _SHUFFLE_EPOCHS, spark)


def epoch_shuffle_oracle_sql(
    table: str = "documents", epochs: int = _SHUFFLE_EPOCHS
) -> str:
    """sample_epoch_shuffle as one DuckDB text — the naive flat
    row_number form (one engine's 1000-row window is free; the
    two-phase decomposition is the Spark-side scale layout, provably
    rank-equal because the bucket is a hash prefix)."""
    return f"""
    SELECT e.epoch, d.doc_id,
           CAST(row_number() OVER (
                  PARTITION BY e.epoch
                  ORDER BY md5(CAST(e.epoch AS VARCHAR) || ':' ||
                               CAST(d.doc_id AS VARCHAR)), d.doc_id)
                - 1 AS BIGINT) AS pos
    FROM {table} d,
         (SELECT unnest(range(0, {epochs})) AS epoch) e
    """


# r13 promotion of the r13 preview (gate-verified 2-SF before the
# decorator landed) — the register call sits after the oracle text it
# captures.
register(
    "sample_epoch_shuffle",
    oracle=epoch_shuffle_oracle_sql(),
    survey="north-star: deterministic per-epoch loader shuffle "
    "(two-phase hash-bucket rank, no global sort)",
)(sample_epoch_shuffle)


# ------------- length-curriculum loader order (round-13 late preview)
#
# Curriculum learning's loader-side contract: epoch 0 presents the
# corpus easy-first (here short-to-long — the length curriculum of
# Shortformer/Li et al.; any per-doc difficulty score slots into the
# same bin expression), later epochs use the standard deterministic
# shuffle so the model sees an unbiased mixture once warmed up. The
# order is the epoch-shuffle machine with a COMPOSITE sort key:
# sort_bin = (epoch == 0 ? length_bin : 0) major, md5(epoch:doc_id)
# minor. The two-phase decomposition generalizes unchanged — bucket
# = (sort_bin, 2-hex hash prefix), per-epoch exclusive prefix over
# the ≤ E·8·256-row bucket table ordered by (sort_bin, bkt), rank
# within (epoch, sort_bin, bkt) — and rank-equality to the flat
# row_number again holds STRUCTURALLY because (sort_bin, prefix(h))
# order is a prefix of (sort_bin, h) order. The length bin is a pure
# map (least(n_words // 8, 7)): fixed closed-form thresholds, NOT a
# corpus ntile — a global quantile bucketing would be a full sort at
# 100 TB (the report_rfm_scores shape is only accounted for
# dimension-bounded tables); fixed bins keep the curriculum
# embarrassingly parallel, and a production run calibrates the
# thresholds once from a sample or a sketch_histogram pass.
# Deliberately NOT consolidated with epoch_shuffle_frame: threading
# sort_bin through it would touch the freshly-anchored registered
# shuffle for zero semantic gain (the _lsh_cands_geom precedent);
# the equality-at-degenerate-key test pins the two machines equal
# when every bin is 0 instead. Registered late in r13 (the register
# call follows curriculum_oracle_sql below).

_CURRICULUM_EPOCHS = 2
_CURRICULUM_BIN_W = 8  # words per length bin
_CURRICULUM_MAX_BIN = 7


def _curriculum_frame(
    d: DataFrame, epochs: int, spark: SparkSession
) -> DataFrame:
    """Two-phase curriculum rank over a (doc_id, bin) frame. Output:
    (epoch, doc_id, bin, pos) — pos a permutation of [0, n) per
    epoch; epoch 0 ordered by (bin, h), later epochs by h alone."""
    e = F.broadcast(
        spark.range(epochs).select(F.col("id").cast("bigint").alias("epoch"))
    )
    h = F.md5(
        F.concat_ws(
            ":", F.col("epoch").cast("string"), F.col("doc_id").cast("string")
        )
    )
    sort_bin = F.when(F.col("epoch") == 0, F.col("bin")).otherwise(
        F.lit(0)
    )
    keyed = (
        d.select("doc_id", "bin")
        .crossJoin(e)
        .select(
            "epoch",
            "doc_id",
            "bin",
            sort_bin.cast("int").alias("sort_bin"),
            h.alias("h"),
        )
        .withColumn("bkt", F.substring("h", 1, 2))
    )
    bcounts = keyed.groupBy("epoch", "sort_bin", "bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("bn")
    )
    wb = (
        Window.partitionBy("epoch")
        .orderBy("sort_bin", "bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = bcounts.select(
        "epoch",
        "sort_bin",
        "bkt",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("off"),
    )
    win = Window.partitionBy("epoch", "sort_bin", "bkt").orderBy(
        "h", "doc_id"
    )
    return (
        keyed.join(F.broadcast(boff), ["epoch", "sort_bin", "bkt"])
        .withColumn("rn", F.row_number().over(win).cast("bigint"))
        .select(
            "epoch",
            "doc_id",
            "bin",
            (F.col("off") + F.col("rn") - 1).cast("bigint").alias("pos"),
        )
    )


def _curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bin) over documents: bin = least(n_words // 8, 7) —
    a pure map, identical spelling to the oracle's."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.trim("text"), r"\s+"))
    return d.select(
        "doc_id",
        F.least(
            F.floor(n_words / _CURRICULUM_BIN_W),
            F.lit(_CURRICULUM_MAX_BIN),
        )
        .cast("int")
        .alias("bin"),
    )


def sample_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum loader order over the documents table:
    epoch 0 short-to-long (hash-shuffled within each length bin),
    epochs >= 1 the standard deterministic shuffle (registered r13;
    r13 late preview). Output: (epoch, doc_id, bin, pos)."""
    return _curriculum_frame(
        _curriculum_bins(spark, sf_dir), _CURRICULUM_EPOCHS, spark
    )


def curriculum_oracle_sql(
    table: str = "documents", epochs: int = _CURRICULUM_EPOCHS
) -> str:
    """sample_curriculum_order as one DuckDB text — the naive flat
    per-epoch row_number over the composite key (the two-phase
    decomposition is the Spark-side scale layout, rank-equal by the
    prefix argument)."""
    return rf"""
    WITH feats AS (
      SELECT doc_id,
             CAST(least(len(regexp_split_to_array(trim(text), '\s+'))
                        // {_CURRICULUM_BIN_W},
                        {_CURRICULUM_MAX_BIN}) AS INTEGER) AS bin
      FROM {table}
    ),
    keyed AS (
      SELECT e.epoch, f.doc_id, f.bin,
             CASE WHEN e.epoch = 0 THEN f.bin ELSE 0 END AS sort_bin,
             md5(CAST(e.epoch AS VARCHAR) || ':' ||
                 CAST(f.doc_id AS VARCHAR)) AS h
      FROM feats f,
           (SELECT unnest(range(0, {epochs})) AS epoch) e
    )
    SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, bin,
           CAST(row_number() OVER (
                  PARTITION BY epoch
                  ORDER BY sort_bin, h, doc_id) - 1 AS BIGINT) AS pos
    FROM keyed
    """


# r13 late promotion — register call after the oracle.
register(
    "sample_curriculum_order",
    oracle=curriculum_oracle_sql,
    survey="north-star: length-curriculum loader order (easy-first "
    "epoch 0, plain shuffle after; two-phase composite-key rank)",
)(sample_curriculum_order)


# ------------- UniMax language-budget allocation (round-12 preview)
#
# UniMax (Chung et al. 2023, "UniMax: Fairer and More Effective
# Language Sampling for Large-Scale Multilingual Pretraining")
# allocates a total token budget across languages by WATERFILLING
# under a per-language epoch cap: low-resource languages take their
# full capacity (n_tokens × epoch_cap), and whatever budget remains
# is split EVENLY across the rest — the closed-form alternative to
# temperature mixing (sample_temperature_mix) that never repeats a
# language more than the cap.
#
# Exact closed form over the k-row language table, sorted by capacity
# ascending (ties by lang): f(j) = cumsum_{j-1} + c_j·(k−j+1) is
# non-decreasing, so the "takes full capacity" set is a PREFIX —
# j* = max{j : f(j) ≤ B} — and every remaining language gets the same
# water level t = (B − cumsum_{j*}) / (k − j*). The prefix test is
# pure BIGINT arithmetic (no division), so both engines agree
# exactly; t and the per-language epoch ratio are the only doubles,
# rounded floor-form 4dp (strictly non-negative, the _lm_r4
# spelling). Budget B = 3 × total_tokens (three corpus epochs, exact
# BIGINT) under an epoch cap of 4 — at the fixture's language mix the
# two smallest languages take full capacity and the rest share the
# water level, so BOTH branches carry driver-gate weight.
#
# Scale shape: ONE corpus aggregate (per-lang token sums, map-side
# combinable) collapses 100 TB to k rows; everything after — the
# window, the prefix flags, the one-row budget/jstar joins — runs on
# the language table (k ≈ dozens; the window's SinglePartition
# exchange is the |langs|-bounded whitelisted shape). Registered r13
# (r12 preview).

_UNIMAX_EPOCHS = 4  # per-language repeat cap
_UNIMAX_BUDGET_X = 3  # token budget = this many corpus epochs


# floor-form 4dp SQL round for the non-negative allocation values —
# the one shared spelling (r12 hoist; see functions/rounding.r4_sql)
_unimax_r4 = r4_sql


def unimax_alloc_sql(
    lang_tokens: str, epoch_cap: int, budget_x: int = _UNIMAX_BUDGET_X
) -> str:
    """The shared waterfilling text both engines run over a
    (lang, n_tok) relation. Output: one row per language —
    (lang, n_tokens, capacity, is_full, alloc_tokens, epochs)."""
    # NULLIF guards the everyone-takes-full edge (j* = k, reachable
    # whenever budget_x >= epoch_cap): there the CASE full-branch
    # covers every row, but a branch-eager or ANSI-mode engine would
    # still evaluate the divisor (ADVICE r12) — make the unused value
    # NULL, not a division by zero.
    t_level = "(b.b - j.full_c) / NULLIF(b.k - j.j, 0)"
    alloc = f"CASE WHEN f.takes_full THEN CAST(f.c AS DOUBLE) ELSE {t_level} END"
    return f"""
    WITH cap AS (
      SELECT lang, CAST(n_tok AS BIGINT) AS n_tok,
             CAST(n_tok * {epoch_cap} AS BIGINT) AS c
      FROM {lang_tokens}
    ),
    tot AS (
      SELECT CAST(sum(n_tok) * {budget_x} AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS k
      FROM cap
    ),
    ord AS (
      SELECT lang, n_tok, c,
             CAST(row_number() OVER (ORDER BY c, lang) AS BIGINT) AS rn,
             CAST(coalesce(sum(c) OVER (ORDER BY c, lang
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
      FROM cap
    ),
    flags AS (
      SELECT o.*, (o.cum_prev + o.c * (t.k - o.rn + 1) <= t.b) AS takes_full
      FROM ord o CROSS JOIN tot t
    ),
    jstar AS (
      SELECT CAST(coalesce(max(CASE WHEN takes_full THEN rn END), 0)
               AS BIGINT) AS j,
             CAST(coalesce(sum(CASE WHEN takes_full THEN c END), 0)
               AS BIGINT) AS full_c
      FROM flags
    )
    SELECT f.lang,
           f.n_tok AS n_tokens,
           f.c AS capacity,
           f.takes_full AS is_full,
           {_unimax_r4(alloc)} AS alloc_tokens,
           {_unimax_r4(f"({alloc}) / f.n_tok")} AS epochs
    FROM flags f CROSS JOIN jstar j CROSS JOIN tot b
    """


def _lang_tokens_body(table: str) -> str:
    """Per-lang whitespace token sums (the established split-of-trimmed
    idiom) as ONE shared SQL body — the Spark twin is the
    F.sum(F.size(F.split(F.trim(...)))) aggregate in
    sample_unimax_budget; every unimax oracle derives its lang_tokens
    relation from this text so no two legs can count tokens
    differently."""
    return (
        r"""SELECT lang,
             CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
               AS BIGINT) AS n_tok
      FROM """
        + table
        + " GROUP BY 1"
    )


def _lang_tokens_cte(table: str) -> str:
    """The body above as an opening WITH-chain."""
    return f"""
    WITH lang_tokens AS ({_lang_tokens_body(table)})"""


def unimax_oracle_sql(
    table: str = "documents",
    epoch_cap: int = _UNIMAX_EPOCHS,
    budget_x: int = _UNIMAX_BUDGET_X,
) -> str:
    """sample_unimax_budget as one DuckDB text: the shared lang_tokens
    CTE, then the shared waterfilling fragment."""
    return (
        _lang_tokens_cte(table)
        + """
    SELECT * FROM ("""
        + unimax_alloc_sql("lang_tokens", epoch_cap, budget_x)
        + ") u"
    )


def _lang_tokens_frame(d: DataFrame) -> DataFrame:
    """DataFrame twin of _lang_tokens_body over a (lang, text) frame —
    ONE Spark spelling of the token count, shared by the budget
    operator (raw corpus) and the composed pipeline (survivors)."""
    return d.groupBy("lang").agg(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("bigint")
        .alias("n_tok")
    )


def _alloc_frame(
    spark: SparkSession, lt: DataFrame, epoch_cap: int, budget_x: int
) -> DataFrame:
    """Run the shared waterfilling SQL over a (lang, n_tok) frame — the
    one Spark entry point to unimax_alloc_sql. The alloc table is k
    rows and stays lazy; callers broadcast or return it."""
    return spark.sql(unimax_alloc_sql("{lt}", epoch_cap, budget_x), lt=lt)


@register(
    "sample_unimax_budget",
    oracle=unimax_oracle_sql(),
    survey="north-star: UniMax language-budget waterfilling "
    "(closed-form epoch-capped allocation, Chung et al. 2023)",
)
def sample_unimax_budget(
    spark: SparkSession,
    sf_dir: str,
    epoch_cap: int = _UNIMAX_EPOCHS,
    budget_x: int = _UNIMAX_BUDGET_X,
) -> DataFrame:
    """UniMax waterfilling over the documents corpus: per-language
    token budget under an epoch cap — small languages take full
    capacity, the rest split the remainder evenly (registered r13;
    r12 preview). Output: (lang, n_tokens, capacity, is_full,
    alloc_tokens, epochs)."""
    d = load_table(spark, sf_dir, "documents")
    return _alloc_frame(
        spark, _lang_tokens_frame(d), epoch_cap, budget_x
    )


# The materialization half of the UniMax pair (round-12 preview,
# second entry): turn the per-language epoch allocation into a
# deterministic PER-DOCUMENT repeat count — every doc repeats
# floor(epochs) times, plus one more for a deterministic
# md5(doc_id)-fraction of docs equal to the fractional epoch part, so
# per-language totals track alloc_tokens without any RNG state. This
# is the plan a data loader executes; budget (above) is the decision,
# apply (here) is the action — the same two-operator story as the
# LM/BPE train→apply arcs.
#
# Determinism inventory: epochs is the 4dp-rounded double from the
# shared waterfilling fragment (identical cross-engine); floor/frac
# are exact on it; the coin is the full 32-bit md5 tail compared to
# floor(frac · 2³²) — an integer threshold both engines compute from
# the same double, compared against the same integer draw (_DRAW_SQL
# at word width; no modulo-100 coarsening here because the epoch
# fractions are 4dp-fine).
#
# Scale shape: the k-row allocation broadcasts onto the documents
# scan — one narrow map pass, zero corpus shuffles. Registered r13
# alongside sample_unimax_budget.

_DRAW32_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8))::BIGINT"


def _draw32(col: str = "doc_id") -> F.Column:
    return F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 25, 8), 16, 10
    ).cast("bigint")


def _unimax_thr_body(alloc_rel: str) -> str:
    """Repeat-count thresholds from an allocation relation: the whole
    epochs and the 32-bit integer coin threshold on the fractional
    part — ONE shared text (and _unimax_thr_frame as the DataFrame
    twin) for the apply operator and the composed corpus pipeline."""
    return (
        "SELECT lang, epochs, CAST(floor(epochs) AS BIGINT) AS whole, "
        "CAST(floor((epochs - floor(epochs)) * 4294967296.0) AS BIGINT) "
        f"AS frac_thr FROM {alloc_rel}"
    )


def _unimax_thr_frame(alloc: DataFrame) -> DataFrame:
    """DataFrame twin of _unimax_thr_body."""
    return alloc.select(
        "lang",
        "epochs",
        F.floor("epochs").cast("bigint").alias("whole"),
        F.floor((F.col("epochs") - F.floor("epochs")) * F.lit(4294967296.0))
        .cast("bigint")
        .alias("frac_thr"),
    )


def unimax_apply_oracle_sql(
    table: str = "documents",
    epoch_cap: int = _UNIMAX_EPOCHS,
    budget_x: int = _UNIMAX_BUDGET_X,
) -> str:
    """sample_unimax_apply as one DuckDB text: the shared lang_tokens
    CTE, the budget oracle as a CTE, broadcast-joined (semantically)
    onto the documents table."""
    return (
        _lang_tokens_cte(table)
        + f""",
    alloc AS ({unimax_alloc_sql("lang_tokens", epoch_cap, budget_x)}),
    thr AS ({_unimax_thr_body("alloc")})
    SELECT d.doc_id, d.lang, t.epochs,
           CAST(t.whole + CASE WHEN {_DRAW32_SQL} < t.frac_thr
                               THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
    FROM {table} d JOIN thr t ON d.lang = t.lang
    """
    )


@register(
    "sample_unimax_apply",
    oracle=unimax_apply_oracle_sql(),
    survey="north-star: UniMax budget materialization "
    "(deterministic per-document repeat counts, zero corpus shuffles)",
)
def sample_unimax_apply(
    spark: SparkSession,
    sf_dir: str,
    epoch_cap: int = _UNIMAX_EPOCHS,
    budget_x: int = _UNIMAX_BUDGET_X,
) -> DataFrame:
    """Materialize the UniMax allocation: one row per document with
    its deterministic repeat count under the per-language epoch
    budget (registered r13; r12 preview). Output: (doc_id, lang,
    epochs, n_repeats)."""
    alloc = sample_unimax_budget(spark, sf_dir, epoch_cap, budget_x)
    thr = _unimax_thr_frame(alloc)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return d.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "epochs",
        (
            F.col("whole")
            + F.when(_draw32() < F.col("frac_thr"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_repeats"),
    )


# ------- composed UniMax corpus pipeline (round-12 preview, capstone)
#
# The text-domain sibling of pipeline_d4_curation's composition story:
# exact dedup (keep the min-id copy per content hash), drop the eval
# slice and its MinHash-verified near-duplicates (the fuzzy
# decontamination machine), then allocate the UniMax budget over the
# SURVIVORS — per-language token sums, capacities, and water level
# re-scoped to the curated corpus, NOT the raw one (dropping a
# language's duplicates changes every language's allocation, so the
# composition is not a join of the standalone outputs). One row per
# ORIGINAL document with per-stage verdicts and the final repeat
# count (0 for dropped docs), so every decision is attributable.
#
# Every leg is a byte-shared fragment of the operator it composes:
# the content-hash keep rule is dedup_exact's md5/min convention, the
# contamination CTE chain is _SIG_SQL/_LSH_CANDS_SQL/_LSH_VERIFY_SQL/
# _LSH_JACCARD_SELECT, the token counting is _lang_tokens_body, the
# allocation is unimax_alloc_sql, the repeat arithmetic is
# _unimax_thr_body. Scale shape: the union of its parts — one md5
# shuffle, the banding equi-join, one survivor aggregate to k rows,
# one k-row broadcast back. Registered r13 (register call after
# unimax_corpus_oracle_sql below).


def pipeline_unimax_corpus(
    spark: SparkSession,
    sf_dir: str,
    epoch_cap: int = _UNIMAX_EPOCHS,
    budget_x: int = _UNIMAX_BUDGET_X,
) -> DataFrame:
    """Curate-then-allocate end-to-end: exact dedup + eval/fuzzy-decon
    drop, then UniMax repeats under the survivor-scoped allocation
    (registered r13; r12 preview). Output one row per input doc:
    (doc_id, lang, is_canonical, is_eval, is_contaminated,
    n_repeats)."""
    from nyc_traffic_insight_spark.queries.textops import (
        _DECON_EVAL_MOD,
        text_decontaminate_fuzzy,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    wcanon = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    con = (
        text_decontaminate_fuzzy(spark, sf_dir)
        .select("doc_id")
        .withColumn("con_flag", F.lit(True))
    )
    # Fold the token count INTO the flag pass and materialize the
    # NARROW result (6 int/bool columns, no text) before fanning out:
    # the flags lineage — md5 window + the fuzzy-decon LSH verify —
    # feeds both the k-row allocation aggregate and the final join,
    # and without the checkpoint each branch would recompute the
    # whole curation plan (review r12; the sketch_hll_rolling
    # materialize precedent above).
    flags = (
        d.select(
            "doc_id",
            "lang",
            F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"),
            (F.row_number().over(wcanon) == 1).alias("is_canonical"),
        )
        .withColumn("is_eval", F.col("doc_id") % _DECON_EVAL_MOD == 0)
        .join(con, "doc_id", "left")
        .withColumn(
            "is_contaminated", F.coalesce(F.col("con_flag"), F.lit(False))
        )
        .withColumn(
            "survives",
            F.col("is_canonical")
            & ~F.col("is_eval")
            & ~F.col("is_contaminated"),
        )
        .drop("con_flag")
        .transform(materialize)
    )
    lt = (
        flags.filter("survives")
        .groupBy("lang")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tok"))
    )
    thr = _unimax_thr_frame(_alloc_frame(spark, lt, epoch_cap, budget_x))
    return flags.join(F.broadcast(thr), "lang", "left").select(
        "doc_id",
        "lang",
        "is_canonical",
        "is_eval",
        "is_contaminated",
        F.when(
            F.col("survives"),
            F.col("whole")
            + F.when(_draw32() < F.col("frac_thr"), 1).otherwise(0),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_repeats"),
    )


def unimax_corpus_oracle_sql(
    epoch_cap: int = _UNIMAX_EPOCHS,
    budget_x: int = _UNIMAX_BUDGET_X,
) -> str:
    """pipeline_unimax_corpus as one DuckDB text, assembled entirely
    from the composed operators' own shared fragments. No table
    parameter (review r12): the contamination chain's _SIG_SQL reads
    the documents table by construction, so a parameterized doc_flags
    leg would silently mix two corpora — the oracle is documents-only,
    like every composed text in textops."""
    from nyc_traffic_insight_spark.queries.textops import (
        _DECON_EVAL_MOD,
        _LSH_CANDS_SQL,
        _LSH_JACCARD_SELECT,
        _LSH_VERIFY_SQL,
        _SIG_SQL,
    )

    m = _DECON_EVAL_MOD
    return (
        _SIG_SQL
        + _LSH_CANDS_SQL
        + _LSH_VERIFY_SQL
        + f""",
    jac AS ({_LSH_JACCARD_SELECT}),
    contaminated AS (
      SELECT DISTINCT CASE WHEN doc1 % {m} = 0 THEN doc2
                           ELSE doc1 END AS doc_id
      FROM jac WHERE (doc1 % {m} = 0) <> (doc2 % {m} = 0)
    ),
    doc_flags AS (
      -- named doc_flags, not flags: unimax_alloc_sql's nested chain
      -- defines its own `flags`, and DuckDB resolves the nested name
      -- first — an outer CTE also called flags would bind circularly
      -- through surv -> flags -> ord -> cap -> lang_tokens -> surv
      SELECT d.doc_id, d.lang, d.text,
             (row_number() OVER (PARTITION BY md5(d.text)
                                 ORDER BY d.doc_id) = 1) AS is_canonical,
             (d.doc_id % {m} = 0) AS is_eval,
             (c.doc_id IS NOT NULL) AS is_contaminated
      FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    ),
    surv AS (
      SELECT * FROM doc_flags
      WHERE is_canonical AND NOT is_eval AND NOT is_contaminated
    ),
    lang_tokens AS ({_lang_tokens_body("surv")}),
    alloc AS ({unimax_alloc_sql("lang_tokens", epoch_cap, budget_x)}),
    thr AS ({_unimax_thr_body("alloc")})
    SELECT f.doc_id, f.lang, f.is_canonical, f.is_eval,
           f.is_contaminated,
           CAST(CASE WHEN f.is_canonical AND NOT f.is_eval
                          AND NOT f.is_contaminated
                     THEN t.whole + CASE WHEN {_DRAW32_SQL} < t.frac_thr
                                         THEN 1 ELSE 0 END
                     ELSE 0 END AS BIGINT) AS n_repeats
    FROM doc_flags f LEFT JOIN thr t ON f.lang = t.lang
    """
    )


# r13 promotion of the r12 preview (VERDICT r12 #1) — the capstone
# composition registers last of the eight.
register(
    "pipeline_unimax_corpus",
    oracle=unimax_corpus_oracle_sql(),
    survey="north-star: composed pretraining-corpus pipeline "
    "(exact dedup -> eval + fuzzy decontamination -> survivor-scoped "
    "UniMax repeats)",
)(pipeline_unimax_corpus)


# ------------- stride source-interleave schedule (round-13 preview)
#
# The mixture SCHEDULER between allocation and loading: UniMax (and
# temperature mixing) decide HOW MUCH of each source to train on;
# this decides WHEN — a deterministic global order in which each
# source appears at a steady rate (stride scheduling / the Bresenham
# interleave every streaming data loader implements), so a batch
# window at any training step sees the mixture's proportions instead
# of a source-sorted run. Doc i of source s (1-based within-source
# rank) gets key (2i−1)/(2·n_s); the global order is by key, ties by
# (source, i). The position is computed in CLOSED FORM — for each
# other source t, the count of its docs with a smaller key is
# floor(((2i−1)·n_t + n_s − 1)/(2·n_s)), an exact integer expression
# (own source contributes i−1 through the same formula), plus a ≤1
# per-source tie adjustment — fuzz-verified against the naive
# sort-by-key reference over 300 random mixtures
# (tests/test_r13_previews.py).
#
# Scale shape: one within-source rank window (partitioned by source —
# the shard_pack_greedy shape), one k-row counts broadcast, then a
# NARROW in-row fold over the k sources — no global sort, no
# corpus-sized single-partition window, zero extra shuffles.
# Exactness bound: the fold's floor-division runs in doubles, exact
# while (2i−1)·n_t < 2^53 (~7·10^7 docs per source pair); past that,
# spell the division in DECIMAL(38,0) — same upgrade path as
# exact_sum's int64 headroom note. The DuckDB oracle runs the SAME
# closed form with native integer division. Registered r13 (the
# register call follows interleave_oracle_sql below).


def sample_interleave_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stride-interleaved mixture order over the
    documents table (registered r13; r13 preview). Output: (doc_id,
    source, src_rank, pos) — pos a permutation of [0, n), each source
    paced evenly through it."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    cs = counts.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("source").alias("t"), F.col("n")))
        ).alias("cs")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    ranked = (
        d.withColumn("i", F.row_number().over(w).cast("bigint"))
        .crossJoin(F.broadcast(cs))
    )
    k2 = 2 * F.col("i") - 1  # the doc's odd numerator
    n_s = F.filter(
        F.col("cs"), lambda x: x["t"] == F.col("source")
    )[0]["n"]

    def term(x):
        q = k2 * x["n"]
        less = F.floor((q + n_s - 1) / (2 * n_s)).cast("long")
        m = F.floor(q / n_s).cast("long")
        tie = (
            F.when(
                (x["t"] < F.col("source"))
                & (q % n_s == 0)
                & (m % 2 == 1)
                & (m <= 2 * x["n"] - 1),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )
        return less + tie

    pos = F.aggregate(
        F.col("cs"), F.lit(0).cast("long"), lambda acc, x: acc + term(x)
    )
    return ranked.select(
        "doc_id",
        "source",
        F.col("i").alias("src_rank"),
        pos.cast("bigint").alias("pos"),
    )


def interleave_oracle_sql(table: str = "documents") -> str:
    """sample_interleave_stride as one DuckDB text — the same closed
    form with native integer division (exact at any scale)."""
    return f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM {table} GROUP BY 1
    ),
    ranked AS (
      SELECT d.doc_id, d.source, c.n AS n_s,
             CAST(row_number() OVER (PARTITION BY d.source
                                     ORDER BY d.doc_id) AS BIGINT) AS i
      FROM {table} d JOIN counts c ON c.source = d.source
    ),
    terms AS (
      SELECT r.doc_id, r.source, r.i,
             ((2 * r.i - 1) * t.n + r.n_s - 1) // (2 * r.n_s)
             + CASE WHEN t.source < r.source
                         AND ((2 * r.i - 1) * t.n) % r.n_s = 0
                         AND (((2 * r.i - 1) * t.n) // r.n_s) % 2 = 1
                         AND ((2 * r.i - 1) * t.n) // r.n_s <= 2 * t.n - 1
                    THEN 1 ELSE 0 END AS term
      FROM ranked r CROSS JOIN counts t
    )
    SELECT doc_id, source, CAST(i AS BIGINT) AS src_rank,
           CAST(sum(term) AS BIGINT) AS pos
    FROM terms GROUP BY 1, 2, 3
    """


# r13 promotion of the r13 preview — register call after the oracle.
register(
    "sample_interleave_stride",
    oracle=interleave_oracle_sql(),
    survey="north-star: stride/Bresenham source-interleave mixture "
    "schedule (closed-form position, no global sort)",
)(sample_interleave_stride)
