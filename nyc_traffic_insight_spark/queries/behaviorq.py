"""Catalog: behavioral / product-analytics operators (round 5).

The reference's events surface (`enrich_weather.py` ingests an event
stream; `main.py:120-180` aggregates per-entity activity) stops at
per-hour counts. Users of an events table reach for the next tier the
moment it exists: sessionization, path analysis, share-of-total,
audience overlap, RFM scoring. These are that tier, batch-side (the
streaming sessionizer lives in `queries/streamingq.py`), each with a
full DuckDB value-hash oracle.

Cross-engine determinism rules (see `queries/__init__` docstring):
window order is always pinned to a unique key suffix ``(ts, event_id)``
— the fixture has no duplicate (user_id, ts) today, but a tie would
otherwise flip lag/ntile results between engines silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.functions.rounding import (
    exact_avg,
    exact_sum,
    r as _r,
    scaled_long,
)
from nyc_traffic_insight_spark.queries import register
from nyc_traffic_insight_spark.session import materialize
from nyc_traffic_insight_spark.sources import load_table
from nyc_traffic_insight_spark.sources.catalog import load_table_wide

# 30-minute inactivity gap: the de-facto industry default (GA, Amplitude).
_GAP_MIN = 30


@register(
    "win_sessionize_batch",
    survey="W/streaming-family extension: gap-based batch sessionization "
    "(30-min inactivity cutoff) — the batch twin of stream_sessionization "
    "(enrich_weather.py's stream is the reference's only session surface)",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL {_GAP_MIN} MINUTE
                  THEN 0 ELSE 1 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM seq
    )
    SELECT user_id,
           CAST(session_seq AS INTEGER) AS session_seq,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY 1, 2
    """,
)
def win_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic gap sessionization: a session breaks when >30 min pass
    between a user's consecutive events; session_seq is the running
    count of breaks (the first event of every user opens session 1 —
    lag is NULL there, and NULL <= interval is false on both engines).

    Scale shape: ONE shuffle on user_id serves both windows and the
    final groupBy (same partitioning expression, Spark reuses the
    Exchange); state per user is a timestamp, output is bounded by
    |sessions|, never raw events. This is the standard distributed
    sessionize — the pandas equivalent would single-thread the sort.

    duration_s = unix_timestamp(max) - unix_timestamp(min): both sides
    floor to epoch seconds, identical to DuckDB's date_diff('second')
    boundary count on microsecond timestamps.
    """
    ev = load_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    gap_ok = (
        F.col("ts").cast("long") - F.lag("ts", 1).over(w_lag).cast("long")
    ) <= _GAP_MIN * 60
    return (
        ev.select(
            "user_id",
            "ts",
            F.when(gap_ok, F.lit(0)).otherwise(F.lit(1)).alias("new_sess"),
        )
        .select(
            "user_id",
            "ts",
            F.sum("new_sess").over(w_run).cast("int").alias("session_seq"),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).alias("duration_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "event_transition_matrix",
    survey="W/A-family extension: first-order Markov transition counts "
    "between consecutive event types per user (path analysis)",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_transitions,
           round(n_transitions / CAST(sum(n_transitions)
                 OVER (PARTITION BY prev_type) AS DOUBLE), 4) AS p_next
    FROM trans
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event sequences → (prev, next) transition counts →
    row-normalized transition probabilities. The lag window shuffles on
    user_id; the count collapses to at most |types|² rows, so the
    normalizing window is over a constant-size table.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.lag("event_type", 1).over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w_norm = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n_transitions",
        _r(
            F.col("n_transitions")
            / F.sum("n_transitions").over(w_norm).cast("double"),
            4,
        ).alias("p_next"),
    )


@register(
    "report_market_share",
    survey="A/W-family extension: per-day share-of-total by event type "
    "(windowed share-of-total is the report shape main.py:120-180 "
    "approximates with repeated full-table scans)",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day, cnt,
           round(cnt / CAST(sum(cnt) OVER (PARTITION BY day) AS DOUBLE), 4)
             AS share
    FROM daily
    """,
)
def report_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total without a second scan: aggregate once to
    (type, day) counts — bounded by |types|×|days| — then a window sum
    over the aggregate computes each day's denominator. The naive form
    (join against a separate per-day total query) scans the fact table
    twice; this scans once.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("day")
    return daily.select(
        "event_type",
        "day",
        "cnt",
        _r(F.col("cnt") / F.sum("cnt").over(w).cast("double"), 4).alias(
            "share"
        ),
    )


@register(
    "agg_audience_overlap",
    survey="A-family extension: exact pairwise audience overlap + Jaccard "
    "between event types — the exact baseline the sketch tier "
    "(sketch_hll_by_group) approximates at scale",
    oracle="""
    WITH aud AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM aud GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM aud a JOIN aud b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both, sa.n AS n_a, sb.n AS n_b,
           round(p.n_both / CAST(sa.n + sb.n - p.n_both AS DOUBLE), 4)
             AS jaccard
    FROM pairs p
    JOIN sizes sa ON p.type_a = sa.event_type
    JOIN sizes sb ON p.type_b = sb.event_type
    """,
)
def agg_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|A ∩ B| / |A ∪ B| for every unordered pair of event types.

    Scale shape: the self-join is keyed on user_id over the DISTINCT
    (type, user) projection — each user carries at most |types| rows,
    so the per-key fan-out is bounded by |types|² (25 here), not by
    activity; the heavy op is the DISTINCT, which partial-aggregates
    map-side. The size lookups broadcast (|types| rows). This is the
    exact-counting twin of the HLL-sketch path for when the audience
    table fits a shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    aud = ev.select("event_type", "user_id").distinct()
    sizes = aud.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = aud.select(
        F.col("event_type").alias("type_a"), F.col("user_id").alias("user_id")
    )
    b = aud.select(
        F.col("event_type").alias("type_b"), F.col("user_id").alias("user_id")
    )
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b")))
    return (
        pairs.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            _r(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                ),
                4,
            ).alias("jaccard"),
        )
    )


@register(
    "report_rfm_scores",
    survey="A/W-family extension: RFM customer scoring over orders "
    "(recency/frequency/monetary quartiles) — per-entity score table, "
    "the serving-side shape of main.py's per-entity summaries",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                  (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
                  AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS monetary
      FROM orders GROUP BY 1
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey)
                AS INTEGER) AS r_score,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey)
                AS INTEGER) AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey)
                AS INTEGER) AS m_score
    FROM rfm
    """,
)
def report_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency (days since last order vs corpus max), frequency (order
    count), monetary (total spend, 2dp) per customer, each quartiled
    with ntile(4) — score 1 is best on every axis. Ordering carries the
    o_custkey tie-break so bucket edges are engine-independent (the
    win_ntile_buckets lesson).

    Scale shape: one groupBy(o_custkey) over the fact table, then three
    global ntile windows over the PER-CUSTOMER aggregate — bounded by
    |customers|, orders of magnitude under the fact table, same
    accounted single-partition shape as win_ntile_buckets. If the
    entity table itself outgrew one partition, the scale path is
    breakpoint-based scoring (approx quantile cutoffs broadcast onto a
    narrow map) — same trade the sketch tier makes.
    """
    orders = load_table(spark, sf_dir, "orders")
    global_max = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("mx")
    )
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            _r(exact_sum("o_totalprice"), 2).alias("monetary"),
        )
        .join(F.broadcast(global_max))
        .select(
            "o_custkey",
            F.datediff("mx", "last_order").cast("bigint").alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
    )
    return rfm.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4)
        .over(Window.orderBy("recency_days", "o_custkey"))
        .cast("int")
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("frequency"), "o_custkey"))
        .cast("int")
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary"), "o_custkey"))
        .cast("int")
        .alias("m_score"),
    )


@register(
    "event_attribution_last_touch",
    survey="W/J-family extension: last-touch attribution — each "
    "purchase credited to the user's most recent prior click within a "
    "7-day window (the marketing-analytics staple on an events table)",
    oracle="""
    WITH tagged AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
                        IGNORE NULLS)
               OVER w AS click_id,
             last_value(CASE WHEN event_type = 'click' THEN ts END
                        IGNORE NULLS)
               OVER w AS click_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id AS purchase_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CASE WHEN click_ts IS NOT NULL
                 AND date_diff('second', click_ts, ts) <= 604800
                THEN click_id END AS touch_id,
           CASE WHEN click_ts IS NOT NULL
                 AND date_diff('second', click_ts, ts) <= 604800
                THEN CAST(date_diff('second', click_ts, ts) AS BIGINT)
           END AS secs_since_touch
    FROM tagged WHERE event_type = 'purchase'
    """,
)
def event_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credit each purchase to the user's latest click at most 7 days
    earlier; purchases with no qualifying touch keep NULLs (the
    'organic' bucket every attribution report carries).

    Spark form: a single carry-forward window — last(click, ignorenulls)
    over the user's time-ordered history — then filter to purchases.
    One shuffle on user_id, one sorted pass, regardless of how many
    purchases or clicks a user has; the pandas equivalent is a
    per-user merge_asof loop. The conditional carry-forward (last of a
    CASE) is the idiomatic Spark spelling of 'most recent event of
    type X before me'; both engines floor the touch age to whole
    seconds (unix_timestamp diff ≡ date_diff('second'))."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    click_id = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), True
    ).over(w)
    click_ts = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), True
    ).over(w)
    tagged = ev.select(
        "event_id", "user_id", "ts", "event_type",
        click_id.alias("click_id"), click_ts.alias("click_ts"),
    ).filter(F.col("event_type") == "purchase")
    age = F.unix_timestamp("ts") - F.unix_timestamp("click_ts")
    qualified = F.col("click_ts").isNotNull() & (age <= 604800)
    return tagged.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.when(qualified, F.col("click_id")).alias("touch_id"),
        F.when(qualified, age.cast("bigint")).alias("secs_since_touch"),
    )


# negative sampling: draws per customer and kept negatives per customer
_NEG_DRAWS = 10
_NEG_K = 5


@register(
    "sample_negatives_per_user",
    survey="north-star: deterministic negative sampling for ranking/"
    "retrieval training — K never-purchased parts per customer via "
    "md5 index draws + anti-join; linear in |customers|·K, never "
    "|customers|×|parts|",
    oracle=f"""
    WITH custs AS (SELECT DISTINCT o_custkey FROM orders),
    pos AS (
      SELECT DISTINCT o.o_custkey, l.l_partkey
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    draws AS (
      SELECT c.o_custkey, s.i,
             ('0x' || substr(md5(CAST(c.o_custkey AS VARCHAR) || '#'
                || CAST(s.i AS VARCHAR)), 1, 12))::BIGINT
               % (SELECT CAST(count(*) AS BIGINT) FROM part) AS cand
      FROM custs c
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(0, {_NEG_DRAWS - 1})) AS i
      ) s
    ),
    dedup AS (
      SELECT o_custkey, cand, min(i) AS i FROM draws GROUP BY 1, 2
    ),
    neg AS (
      SELECT d.o_custkey, d.cand AS neg_partkey, d.i
      FROM dedup d
      WHERE NOT EXISTS (
        SELECT 1 FROM pos p
        WHERE p.o_custkey = d.o_custkey AND p.l_partkey = d.cand
      )
    )
    SELECT o_custkey, neg_partkey,
           CAST(i AS INTEGER) AS draw_idx,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT o_custkey, neg_partkey, i,
             row_number() OVER (PARTITION BY o_custkey ORDER BY i) AS rnk
      FROM neg
    ) WHERE rnk <= {_NEG_K}
    """,
)
def sample_negatives_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=5 deterministic negatives (parts the customer never ordered)
    per customer, for contrastive/ranking training sets.

    The draw is content-addressed — md5(custkey#i) mod |parts| — so
    retries, engine swaps, and incremental reruns regenerate byte-
    identical training negatives (same rationale as
    split_deterministic). 2K draws per customer bound the work at
    |customers|·2K candidate rows; with ~10 positives per customer in
    a 2000-part catalog the chance a draw collides with a positive is
    ~0.5%, so 2K draws deliver the full K with overwhelming margin —
    the 'expected-K' trade every production negative sampler makes
    instead of enumerating the |customers|×|parts| complement.

    Scale shape: explode(sequence) fans out 2K rows per customer
    (narrow), the dedup and the positives anti-join both shuffle on
    (custkey, partkey) — AQE co-locates them — and the final top-K is
    a bounded per-customer window. Part keys are assumed dense
    0..P-1 (true of the fixture; a sparse dimension adds one
    broadcast index→key lookup). |parts| is read once and inlined as
    a literal (exact integer, same one-row-constant pattern as
    sketch_qdigest's domain row)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n_parts = load_table(spark, sf_dir, "part").count()
    custs = orders.select("o_custkey").distinct()
    pos = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    draws = custs.select(
        "o_custkey",
        F.explode(F.sequence(F.lit(0), F.lit(_NEG_DRAWS - 1))).alias("i"),
    ).select(
        "o_custkey",
        "i",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("o_custkey").cast("string"),
                            F.lit("#"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % F.lit(n_parts)
        ).alias("cand"),
    )
    dedup = draws.groupBy("o_custkey", "cand").agg(F.min("i").alias("i"))
    neg = dedup.join(
        pos,
        (dedup.o_custkey == pos.o_custkey) & (dedup.cand == pos.l_partkey),
        "left_anti",
    )
    w = Window.partitionBy("o_custkey").orderBy("i")
    return (
        neg.select(
            "o_custkey",
            F.col("cand").alias("neg_partkey"),
            "i",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= _NEG_K)
        .select(
            "o_custkey",
            "neg_partkey",
            F.col("i").cast("int").alias("draw_idx"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


#: pair-expansion chunk size: a chunk-pair row expands at most
#: _BASKET_CHUNK² pair structs, bounding generator memory for hot
#: baskets (see report_copurchase_pairs). Any basket at or under
#: this size takes the exact single-row path of the r6 shape.
_BASKET_CHUNK = 512


@register(
    "report_copurchase_pairs",
    survey="J/A-family extension: market-basket co-purchase pairs — "
    "parts appearing in the same order, top 25 by support (the "
    "association-mining primer every orders table eventually runs)",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_orders,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT part_a, part_b, n_orders,
             row_number() OVER (ORDER BY n_orders DESC, part_a, part_b)
               AS rnk
      FROM pairs
    ) WHERE rnk <= 25
    """,
)
def report_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 part pairs by the number of orders containing both: the
    support counts behind association rules / 'bought together'.

    Scale shape: baskets are built with ONE shuffle on l_orderkey
    (the gated wide load repartitions BY that key, so the groupBy
    reuses the partitioning; on a cluster the gate never fires and the
    groupBy shuffles normally — either way one exchange), and the
    in-basket pair expansion is a narrow JVM array transform — fan-out
    bounded by basket size squared (~4 lines → 6 pairs), NOT by catalog
    size, and the basket subplan runs ONCE (the original orderkey
    self-join re-ran the distinct projection per side — self-joins
    defeat exchange reuse, the round-1 DeduplicateRelations lesson).
    Measured at 0.1 SF (same session, interleaved reps): the basket
    shape alone ties the self-join ~1.5 s — the single-task partial
    aggregate over the one-row-group local scan is the bottleneck —
    and the column-pruned wide load recovers it (the projection must
    precede the widening exchange: Catalyst does not push projects
    below Repartition, and the unpruned exchange shipped 18.7 MB vs
    ~2 MB). At scale the rewrite halves shuffles (two vs four) and
    fact scans (one vs two). The pair aggregate
    then shuffles on (part_a, part_b) with map-side partials, and the
    global top-25 is orderBy+limit, which Spark executes as distributed
    TakeOrdered (per-partition heaps, no single-partition sort — the
    vocab_top_ngrams lesson). Ties broken by the pair keys so both
    engines rank identically."""
    li = load_table_wide(
        spark,
        sf_dir,
        "lineitem",
        "l_orderkey",
        columns=("l_orderkey", "l_partkey"),
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    # r16 hot-basket guard (VERDICT r15 #6): the r6 shape flattened
    # ALL of a basket's i<j pairs into ONE in-row array — m²
    # struct allocations materialized at once, an OOM-class term for
    # a single hot basket (a 20k-part basket is 2×10⁸ structs), and
    # AQE cannot split a narrow stage. The expansion now goes through
    # CHUNK PAIRS of the sorted basket: every basket explodes to its
    # (ci ≤ cj) chunk-index pairs (exactly one (0, 0) row — and no
    # second array copy — for any basket ≤ _BASKET_CHUNK, i.e. every
    # real TPC-H-shaped order), and each chunk-pair row expands at
    # most _BASKET_CHUNK² structs: within-chunk i<j pairs on the
    # diagonal, full cross product off it (the basket is sorted and
    # deduped, so ci < cj implies every pa element < every pb
    # element). Same pair multiset, bit-identical results (pinned by
    # tests/test_r16_copurchase_chunks.py at the default and at a
    # forced cap=4), wall-neutral at sf0.1 (interleaved medians
    # 1.09 ≈ 1.09 s).
    cap = _BASKET_CHUNK
    nch = f"CAST(ceil(size(parts) / {cap}.0) AS INT)"
    chunk_pairs = F.expr(
        f"flatten(transform(sequence(0, {nch} - 1, 1), "
        f"ci -> transform(sequence(ci, {nch} - 1, 1), "
        "cj -> named_struct('ci', ci, 'cj', cj))))"
    )
    chunked = baskets.select(
        "l_orderkey", "parts", F.explode(chunk_pairs).alias("cp")
    ).select(
        "l_orderkey",
        F.col("cp.ci").alias("ci"),
        F.col("cp.cj").alias("cj"),
        F.expr(f"slice(parts, cp.ci * {cap} + 1, {cap})").alias("pa"),
        F.expr(
            f"IF(cp.ci = cp.cj, CAST(NULL AS ARRAY<BIGINT>), "
            f"slice(parts, cp.cj * {cap} + 1, {cap}))"
        ).alias("pb"),
    )
    pair_structs = F.expr(
        "CASE WHEN pb IS NULL THEN "
        "flatten(transform(pa, (x, i) -> "
        "transform(slice(pa, i + 2, size(pa)), "
        "y -> struct(x AS part_a, y AS part_b)))) "
        "ELSE flatten(transform(pa, x -> "
        "transform(pb, y -> struct(x AS part_a, y AS part_b)))) END"
    )
    pairs = (
        chunked.select(F.explode(pair_structs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    top = (
        pairs.orderBy(
            F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")
        )
        .limit(25)
    )
    w = Window.orderBy(F.desc("n_orders"), F.asc("part_a"), F.asc("part_b"))
    return top.select(
        "part_a",
        "part_b",
        "n_orders",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


@register(
    "agg_gini_by_group",
    survey="A-family extension: Gini concentration of per-user activity "
    "within each event type — the inequality audit for skew-aware "
    "partitioning decisions",
    oracle="""
    WITH per_user AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY x, user_id) AS i
      FROM per_user
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(x) AS BIGINT) AS n_events,
           round(2.0 * sum(i * x) / (count(*) * CAST(sum(x) AS DOUBLE))
                 - (count(*) + 1.0) / count(*), 4) AS gini
    FROM ranked GROUP BY 1
    """,
)
def agg_gini_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the per-user event-count distribution inside
    each type (0 = everyone equally active, →1 = one user dominates),
    via the sorted-rank identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n.

    Operationally this is the SKEW audit: a high-Gini key column is the
    one that needs salting (join_salted_skew) before it becomes a
    straggler at 100 TB. Determinism: every accumulated term (Σx, Σi·x)
    is an exact integer sum; ranks tie-break on user_id; the single
    float division is floor-form-rounded. Scale shape: groupBy(type,
    user) with map-side partials, then a rank window and final
    aggregate over the per-user table — bounded by |users|·|types|."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    ranked = per_user.select(
        "event_type", "x", F.row_number().over(w).alias("i")
    )
    n = F.count(F.lit(1))
    sx = F.sum("x")
    six = F.sum(F.col("i") * F.col("x"))
    return ranked.groupBy("event_type").agg(
        n.alias("n_users"),
        sx.alias("n_events"),
        _r(
            F.lit(2.0) * six / (n * sx.cast("double"))
            - (n + F.lit(1.0)) / n,
            4,
        ).alias("gini"),
    )


@register(
    "report_session_conversion",
    survey="composition: session-outcome labeling on top of "
    "win_sessionize_batch — sessions that clicked, purchased, or "
    "abandoned (clicked without purchasing), rolled up per user",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_type,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL {_GAP_MIN} MINUTE
                  THEN 0 ELSE 1 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM seq
    ),
    outcomes AS (
      SELECT user_id, session_seq,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS has_click,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS has_purchase
      FROM sess GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(has_purchase) AS BIGINT) AS n_converted,
           CAST(sum(CASE WHEN has_click = 1 AND has_purchase = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned,
           round(sum(has_purchase) / CAST(count(*) AS DOUBLE), 4)
             AS conversion_rate
    FROM outcomes GROUP BY 1
    """,
)
def report_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label every session converted (contains a purchase) or abandoned
    (clicked but never purchased), then roll up per user. The session
    boundaries are EXACTLY win_sessionize_batch's — same gap constant,
    same window — so the two queries compose into one consistent
    session model.

    Scale shape: the same single user_id shuffle drives the gap window,
    the per-session outcome aggregate, and the per-user rollup — three
    stages, one partitioning, output bounded by |users|."""
    ev = load_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    gap_ok = (
        F.col("ts").cast("long") - F.lag("ts", 1).over(w_lag).cast("long")
    ) <= _GAP_MIN * 60
    sess = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.when(gap_ok, F.lit(0)).otherwise(F.lit(1)).alias("new_sess"),
    ).select(
        "user_id",
        "event_type",
        F.sum("new_sess").over(w_run).alias("session_seq"),
    )
    outcomes = sess.groupBy("user_id", "session_seq").agg(
        F.max(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("has_click"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("has_purchase"),
    )
    return outcomes.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("has_purchase").cast("bigint").alias("n_converted"),
        F.sum(
            F.when(
                (F.col("has_click") == 1) & (F.col("has_purchase") == 0), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_abandoned"),
        _r(
            F.sum("has_purchase") / F.count(F.lit(1)).cast("double"), 4
        ).alias("conversion_rate"),
    )


@register(
    "win_rank_change",
    survey="W-family extension: day-over-day leaderboard movement — "
    "each type's daily volume rank and its change vs the previous day "
    "(the 'trending' report)",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, day, cnt,
             CAST(row_number() OVER (PARTITION BY day
                     ORDER BY cnt DESC, event_type) AS INTEGER) AS rnk
      FROM daily
    )
    SELECT event_type, day, cnt, rnk,
           CAST(lag(rnk) OVER (PARTITION BY event_type ORDER BY day)
                - rnk AS INTEGER) AS rank_gain
    FROM ranked
    """,
)
def win_rank_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank types by daily volume (ties broken by name so both engines
    agree), then diff each type's rank against its previous day —
    positive rank_gain = climbed the leaderboard, NULL on a type's
    first day.

    Scale shape: two windows over the (type × day)-bounded daily
    aggregate — the per-day ranking partitions by day, the day-over-day
    lag partitions by type; both inputs are tiny regardless of fact
    volume."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_rank = Window.partitionBy("day").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    ranked = daily.select(
        "event_type",
        "day",
        "cnt",
        F.row_number().over(w_rank).cast("int").alias("rnk"),
    )
    w_lag = Window.partitionBy("event_type").orderBy("day")
    return ranked.select(
        "event_type",
        "day",
        "cnt",
        "rnk",
        (F.lag("rnk").over(w_lag) - F.col("rnk")).cast("int").alias(
            "rank_gain"
        ),
    )


@register(
    "agg_seasonality_profile",
    survey="A/C-family composition: weekday(Mon=0) × hour activity "
    "profile per type — counts, mean value, and share of the type's "
    "total (the heatmap behind main.py's hour/weekday feature pair)",
    oracle="""
    WITH cells AS (
      SELECT event_type,
             CAST(isodow(ts) - 1 AS INTEGER) AS wd,
             CAST(hour(ts) AS INTEGER) AS hh,
             CAST(count(*) AS BIGINT) AS cnt,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / (count(value) * 100), 4) AS mean_val
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, wd, hh, cnt, mean_val,
           round(cnt / CAST(sum(cnt) OVER (PARTITION BY event_type)
                 AS DOUBLE), 4) AS share
    FROM cells
    """,
)
def agg_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 7×24 activity grid per type: event count and mean value per
    (weekday, hour) cell plus each cell's share of the type's volume —
    the table a dashboard heatmaps and a feature pipeline joins back
    onto raw rows (C5/C6/C9's hour/weekday features are lookups into
    exactly this profile). Weekday is Mon=0 on both engines (Spark
    weekday() ≡ DuckDB isodow()-1, the catalog's pinned convention).

    Scale shape: one groupBy to a ≤|types|·168-row grid, map-side
    partials; the share window runs over the grid, not the facts."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.weekday("ts").cast("int").alias("wd"),
        F.hour("ts").cast("int").alias("hh"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        _r(exact_avg("value"), 4).alias("mean_val"),
    )
    w = Window.partitionBy("event_type")
    return cells.select(
        "event_type",
        "wd",
        "hh",
        "cnt",
        "mean_val",
        _r(F.col("cnt") / F.sum("cnt").over(w).cast("double"), 4).alias(
            "share"
        ),
    )


@register(
    "pipeline_user_features",
    survey="composition: the per-user feature-store snapshot — "
    "activity, variety, conversion, recency and session features in "
    "one wide row per user (the materialization serving.py would "
    "read for M9-style inference)",
    oracle=f"""
    WITH gmax AS (SELECT max(ts) AS mx FROM events),
    base AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
             CAST(count(DISTINCT CAST(date_trunc('day', ts) AS DATE))
                  AS BIGINT) AS n_active_days,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / (count(value) * 100), 4) AS mean_value,
             CAST(date_diff('second', max(ts), (SELECT mx FROM gmax))
                  AS BIGINT) AS recency_s
      FROM events GROUP BY 1
    ),
    seq AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                    <= INTERVAL {_GAP_MIN} MINUTE
                  THEN 0 ELSE 1 END AS new_sess
      FROM events
    ),
    sess_count AS (
      SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions
      FROM seq GROUP BY 1
    )
    SELECT b.user_id, b.n_events, b.n_types, b.n_active_days,
           b.n_purchases, b.mean_value, b.recency_s, s.n_sessions,
           round(b.n_events / CAST(s.n_sessions AS DOUBLE), 4)
             AS events_per_session
    FROM base b JOIN sess_count s ON b.user_id = s.user_id
    """,
)
def pipeline_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One wide feature row per user: volume (n_events, active days),
    variety (distinct types), conversion (purchase count), magnitude
    (mean value), recency (seconds before the corpus max timestamp),
    and session shape (session count via the catalog's standard 30-min
    gap, events per session). This is the feature-store table an
    inference service keys on — the batch materialization of what the
    reference computes per-request.

    Scale shape: every stage keys on user_id — the base aggregate, the
    session-break window, and the final join all hash-partition on the
    same key (three same-key exchanges in the executed plan; they
    stay co-partitioned so the join itself adds no fourth), and the
    global max timestamp is a one-row broadcast. Output is |users|
    rows however large the fact table."""
    ev = load_table(spark, sf_dir, "events")
    gmax = ev.agg(F.max("ts").alias("mx"))
    base = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.countDistinct(
                F.date_trunc("day", "ts").cast("date")
            ).alias("n_active_days"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_purchases"),
            _r(exact_avg("value"), 4).alias("mean_value"),
            F.max("ts").alias("last_ts"),
        )
        .join(F.broadcast(gmax))
        .select(
            "user_id",
            "n_events",
            "n_types",
            "n_active_days",
            "n_purchases",
            "mean_value",
            (F.unix_timestamp("mx") - F.unix_timestamp("last_ts"))
            .cast("bigint")
            .alias("recency_s"),
        )
    )
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = (
        F.col("ts").cast("long") - F.lag("ts", 1).over(w_lag).cast("long")
    ) <= _GAP_MIN * 60
    sess_count = (
        ev.select(
            "user_id",
            F.when(gap_ok, F.lit(0)).otherwise(F.lit(1)).alias("new_sess"),
        )
        .groupBy("user_id")
        .agg(F.sum("new_sess").cast("bigint").alias("n_sessions"))
    )
    return base.join(sess_count, "user_id").select(
        "user_id",
        "n_events",
        "n_types",
        "n_active_days",
        "n_purchases",
        "mean_value",
        "recency_s",
        "n_sessions",
        _r(
            F.col("n_events") / F.col("n_sessions").cast("double"), 4
        ).alias("events_per_session"),
    )


@register(
    "agg_time_to_convert",
    survey="A/W-family extension: view→purchase latency distribution — "
    "per-user first-view to first-subsequent-purchase, summarized as "
    "mean / exact percentiles (the funnel's time dimension)",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t0
      GROUP BY 1
    ),
    lat AS (
      SELECT p.user_id,
             CAST(date_diff('second', v.t0, p.t1) AS BIGINT) AS secs
      FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converters,
           round(avg(CAST(secs AS DOUBLE)), 4) AS mean_s,
           round(quantile_cont(CAST(secs AS DOUBLE), 0.5), 4) AS p50_s,
           round(quantile_cont(CAST(secs AS DOUBLE), 0.9), 4) AS p90_s
    FROM lat
    """,
)
def agg_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long users take to convert: seconds from first view to the
    first purchase AFTER it (the funnel_conversion ordering rule),
    summarized with mean and interpolated percentiles (Spark
    percentile() ≡ DuckDB quantile_cont, the agg_percentile_exact
    pairing). Latencies are integer seconds, so only the summary
    divisions are floats — rounded floor-form.

    Scale shape: two user-keyed min-aggregates and a join, same
    monotone-shrink profile as funnel_conversion; the final summary is
    a one-row merge over |converters|."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    lat = p.join(v, "user_id").select(
        (F.unix_timestamp("t1") - F.unix_timestamp("t0"))
        .cast("bigint")
        .alias("secs")
    )
    secs_d = F.col("secs").cast("double")
    return lat.agg(
        F.count(F.lit(1)).alias("n_converters"),
        _r(F.avg(secs_d), 4).alias("mean_s"),
        _r(F.percentile(secs_d, F.lit(0.5)), 4).alias("p50_s"),
        _r(F.percentile(secs_d, F.lit(0.9)), 4).alias("p90_s"),
    )


@register(
    "qa_freshness_audit",
    survey="QA-family extension: per-stream freshness — how far each "
    "event type's newest record lags the corpus watermark, with a "
    "staleness flag (the first alert any ingest pipeline wires up)",
    oracle="""
    WITH gmax AS (SELECT max(ts) AS mx FROM events)
    SELECT event_type,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS latest_ts,
           CAST(date_diff('second', max(ts), (SELECT mx FROM gmax))
                AS BIGINT) AS lag_s,
           CAST(date_diff('second', max(ts), (SELECT mx FROM gmax))
                > 86400 AS BOOLEAN) AS is_stale
    FROM events GROUP BY 1
    """,
)
def qa_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event type's newest timestamp, its lag behind the corpus
    maximum, and a >24 h staleness flag — the 'did source X stop
    sending?' check. The flag compares INTEGER seconds, so it can
    never flip on float noise.

    Scale shape: one grouped max with map-side partials plus a one-row
    watermark broadcast; output is |types| rows."""
    ev = load_table(spark, sf_dir, "events")
    gmax = ev.agg(F.max("ts").alias("mx"))
    lag_s = (F.unix_timestamp("mx") - F.unix_timestamp("latest")).cast(
        "bigint"
    )
    return (
        ev.groupBy("event_type")
        .agg(F.max("ts").alias("latest"))
        .join(F.broadcast(gmax))
        .select(
            "event_type",
            F.date_format("latest", "yyyy-MM-dd HH:mm:ss").alias(
                "latest_ts"
            ),
            lag_s.alias("lag_s"),
            (lag_s > 86400).alias("is_stale"),
        )
    )


@register(
    "report_revenue_bridge",
    survey="A/W-family extension: month-over-month revenue bridge — "
    "decompose each revenue delta into volume effect, price effect, "
    "and cross term (the FP&A explain-the-change report)",
    oracle="""
    WITH monthly AS (
      SELECT o.o_orderpriority AS priority,
             CAST(year(o.o_orderdate) AS INTEGER) AS yr,
             CAST(month(o.o_orderdate) AS INTEGER) AS mth,
             round(sum(l.l_quantity), 4) AS vol,
             round(CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000, 4) AS rev
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2, 3
    ),
    priced AS (
      SELECT priority, yr, mth, vol, rev,
             round(rev / vol, 6) AS price
      FROM monthly
    ),
    lagged AS (
      SELECT priority, yr, mth, vol, rev, price,
             lag(vol) OVER w AS vol_p,
             lag(rev) OVER w AS rev_p,
             lag(price) OVER w AS price_p
      FROM priced WINDOW w AS (PARTITION BY priority ORDER BY yr, mth)
    )
    SELECT priority, yr, mth, rev,
           round(rev - rev_p, 4) AS delta_rev,
           round((vol - vol_p) * price_p, 4) AS volume_effect,
           round((price - price_p) * vol_p, 4) AS price_effect,
           round((vol - vol_p) * (price - price_p), 4) AS cross_effect
    FROM lagged WHERE rev_p IS NOT NULL
    """,
)
def report_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why did revenue move? Each month's delta versus the prior month
    splits exactly into volume effect (Δvol at old price), price
    effect (Δprice at old volume), and the interaction term — the
    three sum to delta_rev by construction, which is the report's
    self-check. Runs on the flagship's monthly aggregate shape.

    Determinism: vol and rev are floor-form-rounded at the aggregate
    (the catalog's accumulation-order rule), price derives from those
    two already-identical doubles, and every downstream delta is plain
    arithmetic on identical inputs — so 4dp outputs hash-match.

    Scale shape: one fact join+aggregate to |priorities × months| rows,
    then a lag window over that bounded series."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mth"),
        )
        .agg(
            _r(F.sum("l_quantity"), 4).alias("vol"),
            _r(
                exact_sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                ),
                4,
            ).alias("rev"),
        )
    )
    priced = monthly.withColumn("price", _r(F.col("rev") / F.col("vol"), 6))
    w = Window.partitionBy("priority").orderBy("yr", "mth")
    lagged = priced.select(
        "priority",
        "yr",
        "mth",
        "vol",
        "rev",
        "price",
        F.lag("vol").over(w).alias("vol_p"),
        F.lag("rev").over(w).alias("rev_p"),
        F.lag("price").over(w).alias("price_p"),
    ).filter(F.col("rev_p").isNotNull())
    return lagged.select(
        "priority",
        "yr",
        "mth",
        "rev",
        _r(F.col("rev") - F.col("rev_p"), 4).alias("delta_rev"),
        _r((F.col("vol") - F.col("vol_p")) * F.col("price_p"), 4).alias(
            "volume_effect"
        ),
        _r((F.col("price") - F.col("price_p")) * F.col("vol_p"), 4).alias(
            "price_effect"
        ),
        _r(
            (F.col("vol") - F.col("vol_p"))
            * (F.col("price") - F.col("price_p")),
            4,
        ).alias("cross_effect"),
    )


@register(
    "pipeline_training_dataset",
    survey="composition: leakage-safe training-set assembly — features "
    "computed ONLY from events at or before the cutoff, the label ONLY "
    "from the week after it, plus the content-addressed split (the "
    "temporal-split discipline SegmentedModeling.py applies to its "
    "train/test frames, generalized to label construction)",
    oracle=f"""
    WITH bounds AS (
      SELECT max(ts) - INTERVAL 7 DAY AS cutoff FROM events
    ),
    feat AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / (count(value) * 100), 4) AS mean_value,
             CAST(date_diff('second', max(ts), (SELECT cutoff FROM bounds))
                  AS BIGINT) AS recency_s
      FROM events WHERE ts <= (SELECT cutoff FROM bounds)
      GROUP BY 1
    ),
    label AS (
      SELECT DISTINCT user_id, 1 AS will_purchase
      FROM events
      WHERE ts > (SELECT cutoff FROM bounds) AND event_type = 'purchase'
    )
    SELECT f.user_id, f.n_events, f.n_purchases, f.mean_value, f.recency_s,
           CAST(coalesce(l.will_purchase, 0) AS INTEGER) AS label,
           CASE WHEN ('0x' || substr(md5(CAST(f.user_id AS VARCHAR)), 25, 8))
                       ::BIGINT % 100 < 85
                THEN 'train' ELSE 'test' END AS split
    FROM feat f LEFT JOIN label l ON l.user_id = f.user_id
    """,
)
def pipeline_training_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble a churn/propensity-style training table with the
    temporal firewall every leaking pipeline violates: the cutoff is
    7 days before the corpus watermark; features see ONLY ts <= cutoff
    (volume, purchases, mean value, recency measured AT the cutoff —
    never against the future), the binary label is 'purchased in the
    7 days AFTER the cutoff', and the train/test split is the
    catalog's content-addressed md5 draw so the same user lands on the
    same side in every engine, run, and retry. Users with no
    pre-cutoff history are absent by construction (no features to
    train on) — scoring them is the cold-start path, not this table.

    Scale shape: one user_id-keyed aggregate over the pre-cutoff
    slice, an equi-join against the (distinct) post-cutoff purchasers,
    and a per-row hash — single shuffle key throughout; the cutoff is
    a one-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cutoff")
    )
    evb = ev.join(F.broadcast(bounds))
    feat = (
        evb.filter(F.col("ts") <= F.col("cutoff"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_purchases"),
            _r(exact_avg("value"), 4).alias("mean_value"),
            (
                F.unix_timestamp(F.first("cutoff"))
                - F.unix_timestamp(F.max("ts"))
            )
            .cast("bigint")
            .alias("recency_s"),
        )
    )
    label = (
        evb.filter(
            (F.col("ts") > F.col("cutoff"))
            & (F.col("event_type") == "purchase")
        )
        .select("user_id")
        .distinct()
        .withColumn("will_purchase", F.lit(1))
    )
    draw = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 25, 8), 16, 10
        ).cast("bigint")
        % 100
    )
    return feat.join(label, "user_id", "left").select(
        "user_id",
        "n_events",
        "n_purchases",
        "mean_value",
        "recency_s",
        F.coalesce("will_purchase", F.lit(0)).cast("int").alias("label"),
        F.when(draw < 85, "train").otherwise("test").alias("split"),
    )


@register(
    "agg_auc_exact",
    survey="A/ML-family extension: exact ROC AUC via the Mann-Whitney "
    "rank statistic with tie correction — the evaluation metric "
    "computed distributed and cross-engine-exactly, no sklearn",
    oracle="""
    WITH bounds AS (
      SELECT max(ts) - INTERVAL 7 DAY AS cutoff FROM events
    ),
    scored AS (
      SELECT e.user_id,
             CAST(count(*) AS BIGINT) AS score
      FROM events e WHERE e.ts <= (SELECT cutoff FROM bounds)
      GROUP BY 1
    ),
    labeled AS (
      SELECT s.user_id, s.score,
             CASE WHEN l.user_id IS NULL THEN 0 ELSE 1 END AS label
      FROM scored s
      LEFT JOIN (
        SELECT DISTINCT user_id FROM events
        WHERE ts > (SELECT cutoff FROM bounds)
          AND event_type = 'purchase'
      ) l ON l.user_id = s.user_id
    ),
    ranked AS (
      SELECT label,
             rank() OVER (ORDER BY score)
               + (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS avg_rank
      FROM labeled
    )
    SELECT CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
           CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_neg,
           round((sum(CASE WHEN label = 1 THEN avg_rank ELSE 0 END)
                  - sum(CASE WHEN label = 1 THEN 1 ELSE 0 END)
                    * (sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) + 1) / 2.0)
                 / (sum(CASE WHEN label = 1 THEN 1 ELSE 0 END)
                    * CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)
                           AS DOUBLE)), 4) AS auc
    FROM ranked
    """,
)
def agg_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of 'pre-cutoff activity predicts post-cutoff
    purchase': AUC = (Σ avg-ranks of positives − P(P+1)/2) / (P·N),
    the Mann-Whitney U identity, with ties resolved by AVERAGE rank
    (rank() + (ties−1)/2) exactly as sklearn's roc_auc_score does.
    Every accumulated quantity is an integer or an exact half-integer,
    so both engines agree bit-for-bit before the single final
    division — an EVALUATION metric with a full value oracle, where
    model-based scores would force rows-only.

    Scale shape: the rank window is global but runs over the
    per-entity score table (|users|), the same accounted bounded shape
    as report_rfm_scores; everything upstream keys on user_id."""
    from pyspark.sql import Window

    labeled = _score_label(spark, sf_dir).select("score", "label")
    avg_rank = (
        F.rank().over(Window.orderBy("score"))
        + (F.count(F.lit(1)).over(Window.partitionBy("score")) - 1) / 2.0
    )
    ranked = labeled.select("label", avg_rank.alias("avg_rank"))
    n_pos = F.sum(F.when(F.col("label") == 1, 1).otherwise(0))
    n_neg = F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
    r_pos = F.sum(F.when(F.col("label") == 1, F.col("avg_rank")).otherwise(0.0))
    return ranked.agg(
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
        _r(
            (r_pos - n_pos * (n_pos + 1) / 2.0)
            / (n_pos * n_neg.cast("double")),
            4,
        ).alias("auc"),
    )


# shared score/label construction for the evaluation-metric suite:
# score = pre-cutoff activity, label = post-cutoff purchase (see
# agg_auc_exact)
_SCORE_LABEL_SQL = """
    bounds AS (
      SELECT max(ts) - INTERVAL 7 DAY AS cutoff FROM events
    ),
    scored AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS score
      FROM events WHERE ts <= (SELECT cutoff FROM bounds)
      GROUP BY 1
    ),
    labeled AS (
      SELECT s.score,
             CASE WHEN l.user_id IS NULL THEN 0 ELSE 1 END AS label
      FROM scored s
      LEFT JOIN (
        SELECT DISTINCT user_id FROM events
        WHERE ts > (SELECT cutoff FROM bounds)
          AND event_type = 'purchase'
      ) l ON l.user_id = s.user_id
    )
"""


def _score_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cutoff")
    )
    evb = ev.join(F.broadcast(bounds))
    scored = (
        evb.filter(F.col("ts") <= F.col("cutoff"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    pos = (
        evb.filter(
            (F.col("ts") > F.col("cutoff"))
            & (F.col("event_type") == "purchase")
        )
        .select("user_id")
        .distinct()
        .withColumn("p", F.lit(1))
    )
    # materialized once: the per-score aggregate, the total-positives
    # row, and the cumulative branches all reuse this bounded table —
    # without it each reference re-derives the fact scans
    return (
        scored.join(pos, "user_id", "left")
        .select(
            "user_id", "score", F.coalesce("p", F.lit(0)).alias("label")
        )
        .transform(materialize)
    )


@register(
    "agg_precision_recall_curve",
    survey="A/ML-family extension: the exact precision-recall curve — "
    "one point per distinct score threshold (predict positive when "
    "score >= t), every count an exact integer",
    oracle=f"""
    WITH {_SCORE_LABEL_SQL},
    per_score AS (
      SELECT score,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(count(*) AS BIGINT) AS n
      FROM labeled GROUP BY 1
    ),
    cum AS (
      SELECT score,
             sum(pos) OVER (ORDER BY score DESC
                            ROWS UNBOUNDED PRECEDING) AS tp,
             sum(n) OVER (ORDER BY score DESC
                          ROWS UNBOUNDED PRECEDING) AS pred_pos,
             (SELECT sum(pos) FROM per_score) AS total_pos
      FROM per_score
    )
    SELECT score AS threshold,
           CAST(tp AS BIGINT) AS tp,
           CAST(pred_pos AS BIGINT) AS pred_pos,
           round(tp / CAST(pred_pos AS DOUBLE), 4) AS precision,
           round(tp / CAST(total_pos AS DOUBLE), 4) AS recall
    FROM cum
    """,
)
def agg_precision_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every operating point of 'score >= threshold': cumulative true
    positives and predicted positives over descending distinct scores
    give exact precision/recall per threshold. Bounded by |distinct
    scores| rows; the cumulative window runs over that bounded table
    (the report_rfm_scores accounted shape). The two ratios are exact
    integer divisions rounded at output."""
    from pyspark.sql import Window

    sl = _score_label(spark, sf_dir).select("score", "label")
    per_score = sl.groupBy("score").agg(
        F.sum("label").alias("pos"), F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    total_pos = per_score.agg(F.sum("pos").alias("tp_all"))
    cum = per_score.select(
        "score",
        F.sum("pos").over(w).alias("tp"),
        F.sum("n").over(w).alias("pred_pos"),
    ).join(F.broadcast(total_pos))
    return cum.select(
        F.col("score").alias("threshold"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("pred_pos").cast("bigint").alias("pred_pos"),
        _r(F.col("tp") / F.col("pred_pos").cast("double"), 4).alias(
            "precision"
        ),
        _r(F.col("tp") / F.col("tp_all").cast("double"), 4).alias("recall"),
    )


@register(
    "agg_ks_statistic",
    survey="A/ML-family extension: exact Kolmogorov-Smirnov separation "
    "of the score distributions — argmax found on an INTEGER "
    "cross-multiplied numerator, so the max can never flip on float "
    "noise",
    oracle=f"""
    WITH {_SCORE_LABEL_SQL},
    per_score AS (
      SELECT score,
             CAST(sum(label) AS BIGINT) AS pos,
             CAST(count(*) - sum(label) AS BIGINT) AS neg
      FROM labeled GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(pos) AS BIGINT) AS p, CAST(sum(neg) AS BIGINT) AS n
      FROM per_score
    ),
    cum AS (
      SELECT score,
             sum(pos) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
               AS cpos,
             sum(neg) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
               AS cneg
      FROM per_score
    ),
    gaps AS (
      SELECT c.score, abs(c.cpos * t.n - c.cneg * t.p) AS num,
             t.p, t.n
      FROM cum c CROSS JOIN tot t
    )
    SELECT score AS ks_score, p AS n_pos, n AS n_neg,
           round(num / (p * CAST(n AS DOUBLE)), 4) AS ks
    FROM gaps
    ORDER BY num DESC, score ASC LIMIT 1
    """,
)
def agg_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS = max over thresholds of |CDF_pos − CDF_neg|. The maximized
    quantity is the cross-multiplied integer |cpos·N − cneg·P| —
    EXACT, so both engines pick the same argmax row even when two
    thresholds are nearly tied; only the reported statistic divides
    (and rounds). The scorecard world's separation metric, and the
    same computation powers drift detection between any two
    distributions sharing a score axis."""
    from pyspark.sql import Window

    sl = _score_label(spark, sf_dir).select("score", "label")
    per_score = sl.groupBy("score").agg(
        F.sum("label").alias("pos"),
        (F.count(F.lit(1)) - F.sum("label")).alias("neg"),
    )
    tot = per_score.agg(
        F.sum("pos").cast("bigint").alias("p"),
        F.sum("neg").cast("bigint").alias("n"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_score.select(
        "score",
        F.sum("pos").over(w).alias("cpos"),
        F.sum("neg").over(w).alias("cneg"),
    ).join(F.broadcast(tot))
    gaps = cum.select(
        "score",
        F.abs(F.col("cpos") * F.col("n") - F.col("cneg") * F.col("p")).alias(
            "num"
        ),
        "p",
        "n",
    )
    return (
        gaps.orderBy(F.desc("num"), F.asc("score"))
        .limit(1)
        .select(
            F.col("score").alias("ks_score"),
            F.col("p").alias("n_pos"),
            F.col("n").alias("n_neg"),
            _r(F.col("num") / (F.col("p") * F.col("n").cast("double")), 4)
            .alias("ks"),
        )
    )


@register(
    "agg_lift_by_decile",
    survey="A/ML-family extension: decile lift table — the scorecard "
    "report (positives rate and cumulative lift per score decile, "
    "engine-independent ntile tie-breaks)",
    oracle=f"""
    WITH {_SCORE_LABEL_SQL.replace("SELECT s.score,", "SELECT s.user_id, s.score,")},
    deciled AS (
      SELECT label,
             ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
      FROM labeled
    ),
    per_dec AS (
      SELECT CAST(decile AS INTEGER) AS decile,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM deciled GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(pos) AS BIGINT) AS p_all,
             CAST(sum(n) AS BIGINT) AS n_all
      FROM per_dec
    )
    SELECT d.decile, d.n, d.pos,
           round(d.pos / CAST(d.n AS DOUBLE), 4) AS pos_rate,
           round(sum(d.pos) OVER (ORDER BY d.decile
                                  ROWS UNBOUNDED PRECEDING)
                 / (CAST(t.p_all AS DOUBLE) / t.n_all
                    * sum(d.n) OVER (ORDER BY d.decile
                                     ROWS UNBOUNDED PRECEDING)), 4)
             AS cum_lift
    FROM per_dec d CROSS JOIN tot t
    """,
)
def agg_lift_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank users into score deciles (ties broken by user_id, the
    win_ntile_buckets lesson) and report each decile's positive rate
    plus cumulative lift over the base rate — the table a targeting
    team reads before spending a campaign budget. Counts are exact
    integers; the two ratios round at output.

    Scale shape: ntile over the bounded per-entity score table, then
    windows over the 10-row decile summary."""
    from pyspark.sql import Window

    labeled = _score_label(spark, sf_dir)
    deciled = labeled.select(
        "label",
        F.ntile(10)
        .over(Window.orderBy(F.desc("score"), F.asc("user_id")))
        .alias("decile"),
    )
    per_dec = deciled.groupBy(
        F.col("decile").cast("int").alias("decile")
    ).agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").cast("bigint").alias("pos")
    )
    tot = per_dec.agg(
        F.sum("pos").cast("bigint").alias("p_all"),
        F.sum("n").cast("bigint").alias("n_all"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_dec.join(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "pos",
            _r(F.col("pos") / F.col("n").cast("double"), 4).alias("pos_rate"),
            _r(
                F.sum("pos").over(w)
                / (
                    F.col("p_all").cast("double")
                    / F.col("n_all")
                    * F.sum("n").over(w)
                ),
                4,
            ).alias("cum_lift"),
        )
    )


@register(
    "qa_expectations_report",
    survey="QA-family extension: declarative data contract — a "
    "Great-Expectations-style suite compiled to ONE aggregate pass "
    "(operators/expectations.py); the Spark compilation and the SQL "
    "compilation of the same contract must produce the identical "
    "violations report",
    oracle=None,  # set below after the contract is declared
)
def qa_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the standing events-table contract: key integrity, type
    whitelist, value range, volume floor — every check an exact
    violation COUNT from a single shuffle-free scan. Adding a check
    adds one partial aggregate, never a second scan; this is the only
    contract shape that survives a nightly 100 TB run.

    The oracle is compile_sql() over the SAME contract object, so the
    two compilers (Spark Column vs ANSI text) are pinned to each other
    — a drift in either compiler turns this row red."""
    from nyc_traffic_insight_spark.operators.expectations import (
        compile_spark,
    )

    ev = load_table(spark, sf_dir, "events")
    return compile_spark(ev, _EVENTS_CONTRACT)


def _events_contract():
    from nyc_traffic_insight_spark.operators.expectations import Expectation

    return [
        Expectation("event_id", "not_null"),
        Expectation("event_id", "unique"),
        Expectation("user_id", "not_null"),
        Expectation("value", "in_range", (0.0, 1000.0)),
        Expectation(
            "event_type",
            "accepted_values",
            ("view", "click", "purchase", "signup", "error"),
        ),
        Expectation("", "min_rows", (100,)),
    ]


_EVENTS_CONTRACT = _events_contract()

# wire the oracle from the same contract (registered spec is frozen, so
# rebuild the entry with the SQL compilation attached)
from nyc_traffic_insight_spark.operators.expectations import (  # noqa: E402
    compile_sql as _compile_sql,
)
from nyc_traffic_insight_spark.queries import QuerySpec as _QS  # noqa: E402
from nyc_traffic_insight_spark.queries import REGISTRY as _REG  # noqa: E402

_spec = _REG["qa_expectations_report"]
_REG["qa_expectations_report"] = _QS(
    name=_spec.name,
    builder=_spec.builder,
    oracle=_compile_sql("events", _EVENTS_CONTRACT),
    survey=_spec.survey,
)


@register(
    "pipeline_incremental_rollup",
    survey="composition: incremental view maintenance — merge the "
    "standing pre-final-day aggregate with the final day's delta and "
    "hash-prove the merged state equals a full recompute (the pattern "
    "that turns a daily 100 TB rescan into a one-partition update)",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS last_day
      FROM events
    ),
    state AS (
      SELECT event_type,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100, 4) AS total
      FROM events
      WHERE CAST(date_trunc('day', ts) AS DATE)
              < (SELECT last_day FROM bounds)
      GROUP BY 1, 2
    ),
    delta AS (
      SELECT event_type,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100, 4) AS total
      FROM events
      WHERE CAST(date_trunc('day', ts) AS DATE)
              = (SELECT last_day FROM bounds)
      GROUP BY 1, 2
    )
    SELECT * FROM state UNION ALL SELECT * FROM delta
    """,
)
def pipeline_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One incremental-maintenance step, verified: the standing state
    (per-type daily counts for every day BEFORE the latest) unions
    with the latest day's delta aggregate, and the oracle — the same
    two-slice construction, which is definitionally equal to the full
    recompute because days partition events — hash-checks the merge.
    In production the state side is yesterday's PERSISTED table, so
    the daily cost is one partition's aggregate + an append, not a
    history rescan; this entry pins that the merge arithmetic (count
    and rounded sum are both decomposable) loses nothing.

    Scale shape: the day predicate prunes the delta scan to one
    partition under the layout_partition_pruning layout; both
    aggregates shuffle on (type, day)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.max("ts")).cast("date").alias("last_day")
    )
    evb = ev.join(F.broadcast(bounds)).withColumn(
        "d", F.date_trunc("day", "ts").cast("date")
    )

    def slice_agg(pred):
        return (
            evb.filter(pred)
            .groupBy(
                "event_type",
                F.date_format("d", "yyyy-MM-dd").alias("day"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                _r(exact_sum("value"), 4).alias("total"),
            )
        )

    state = slice_agg(F.col("d") < F.col("last_day"))
    delta = slice_agg(F.col("d") == F.col("last_day"))
    return state.unionByName(delta)


# Poisson-bootstrap machinery: per (resample, row) weight ~ Poisson(1),
# drawn deterministically — the distributed bootstrap (each row's
# weight is independent, no global sampling state), with the inverse
# CDF spelled as integer thresholds on a 0..9999 hash draw so both
# engines assign identical weights. The B per-row draws derive from
# ONE md5 via Kirsch-Mitzenmacher double hashing (h1 + i*h2, the same
# trick as the MinHash signatures — NOTES round 1): the r6 sf0.1 sweep
# measured the original md5-per-(row, resample) spelling at 8 s, of
# which ~7 s was 5M md5+conv calls; one hash per row brings it to ~1 s.
# Cumulative Poisson(1)*10000 for k=0..5 (tail mass 6e-4 truncated to
# weight 5 — bias far below the CI resolution).
_BOOT_B = 50
_BOOT_THRESH = [3679, 7358, 9197, 9810, 9963, 9994]


def _boot_weight_sql(draw: str) -> str:
    cases = " ".join(
        f"WHEN {draw} < {t} THEN {k}"
        for k, t in enumerate(_BOOT_THRESH)
    )
    return f"CASE {cases} ELSE 5 END"


@register(
    "agg_bootstrap_ci",
    survey="A-family extension: Poisson-bootstrap confidence interval "
    "for the mean — the DISTRIBUTED bootstrap (per-row independent "
    "Poisson(1) weights, no global resampling state), deterministic "
    "via md5 so the uncertainty estimate itself is oracle-checked",
    oracle=f"""
    WITH hashed AS (
      SELECT value,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
               AS h1,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 9, 8))::BIGINT
               AS h2
      FROM events
    ),
    expanded AS (
      SELECT b.i,
             e.value,
             {_boot_weight_sql("(e.h1 + b.i * e.h2) % 10000")} AS w
      FROM hashed e
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS i
      ) b
    ),
    -- w·value is 2dp-exact (integer weight × 2dp value): sum as
    -- exact cents so no resample mean depends on accumulation order;
    -- the tiny 50-row boot_mean gets the same treatment at 4dp
    means AS (
      SELECT i,
             round(CAST(sum(CAST(round(w * value * 100) AS BIGINT))
                        AS DOUBLE) / 100 / sum(w), 4) AS m
      FROM expanded GROUP BY i HAVING sum(w) > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_resamples,
           round(CAST(sum(CAST(round(m * 10000) AS BIGINT)) AS DOUBLE)
                 / (count(m) * 10000), 4) AS boot_mean,
           round(quantile_cont(m, 0.025), 4) AS ci_lo,
           round(quantile_cont(m, 0.975), 4) AS ci_hi
    FROM means
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for mean(value) without ever materializing a
    resample: each row contributes to all B=50 resamples with an
    independent Poisson(1) weight (the Poisson bootstrap — the only
    bootstrap that distributes, since true multinomial resampling
    needs the global row count as sampling state). Weights come from
    integer thresholds on an md5 draw, so the resample means — and
    therefore the interval — are bit-reproducible across engines,
    runs, and retries; per-resample means are floor-form-rounded
    before the percentile so accumulation order cannot flip the CI
    edges.

    Scale shape: explode ×B is a narrow fan-out; the per-resample
    aggregate partial-combines map-side into B rows; the CI is a
    percentile over 50 numbers. At 100 TB this is exactly how you put
    an error bar on a corpus statistic in one pass."""
    ev = load_table(spark, sf_dir, "events")
    # one md5 per ROW; the Generate (explode) below is an optimizer
    # barrier, so h1/h2 are computed once and reused across all B
    # resample branches instead of being re-inlined per when() arm
    h = F.md5(F.col("event_id").cast("string"))
    hashed = ev.select(
        "value",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("h2"),
    )
    expanded = hashed.select(
        "value",
        "h1",
        "h2",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("i"),
    )
    draw = (F.col("h1") + F.col("i") * F.col("h2")) % 10000
    w = F.lit(5)
    for k in range(len(_BOOT_THRESH) - 1, -1, -1):
        w = F.when(draw < _BOOT_THRESH[k], F.lit(k)).otherwise(w)
    means = (
        expanded.select("i", "value", w.alias("w"))
        .groupBy("i")
        .agg(
            exact_sum(F.col("w") * F.col("value"), 2).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(_r(F.col("swx") / F.col("sw"), 4).alias("m"))
    )
    md = F.col("m").cast("double")
    return means.agg(
        F.count(F.lit(1)).alias("n_resamples"),
        _r(exact_avg(md, 4), 4).alias("boot_mean"),
        _r(F.percentile(md, F.lit(0.025)), 4).alias("ci_lo"),
        _r(F.percentile(md, F.lit(0.975)), 4).alias("ci_hi"),
    )


@register(
    "report_ab_test",
    survey="A-family extension: A/B readout on a continuous metric — "
    "users hash deterministically into arms, per-user mean value "
    "compared with the Welch z statistic from rounded moments "
    "(rounded before the significance comparison)",
    oracle="""
    WITH per_user AS (
      SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 25, 8))
                       ::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / (count(value) * 100), 4) AS user_mean
      FROM events GROUP BY user_id
    ),
    -- arm moments from EXACT integer sums of the 4dp-exact user means:
    -- S1=Σt (t = user_mean·10⁴, BIGINT — commutative), S2=Σt² widened
    -- to HUGEINT here / DECIMAL(38,0) in Spark (t² wraps int64), then
    -- mean = S1/(n·10⁴) and var_samp = (S2 − S1²/n)/((n−1)·10⁸) as a
    -- fixed sequence of deterministic IEEE ops — avg/var_samp over
    -- doubles accumulate in engine-dependent order (the r6 red-row
    -- class) and var_samp's merge algorithm differs per engine
    scaled AS (
      SELECT arm, CAST(round(user_mean * 10000) AS BIGINT) AS t
      FROM per_user
    ),
    per_arm AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(t) AS DOUBLE) / (count(*) * 10000), 4)
               AS mean_val,
             round((CAST(sum(CAST(t AS HUGEINT) * t) AS DOUBLE)
                    - CAST(sum(t) AS DOUBLE) * CAST(sum(t) AS DOUBLE)
                      / count(*))
                   / ((count(*) - 1) * 100000000.0), 4) AS var_val
      FROM scaled GROUP BY 1
    ),
    wide AS (
      SELECT max(CASE WHEN arm = 'A' THEN n END) AS n_a,
             max(CASE WHEN arm = 'A' THEN mean_val END) AS mean_a,
             max(CASE WHEN arm = 'A' THEN var_val END) AS var_a,
             max(CASE WHEN arm = 'B' THEN n END) AS n_b,
             max(CASE WHEN arm = 'B' THEN mean_val END) AS mean_b,
             max(CASE WHEN arm = 'B' THEN var_val END) AS var_b
      FROM wide_src
    ),
    wide_src AS (SELECT * FROM per_arm)
    SELECT n_a, mean_a, n_b, mean_b,
           round((mean_a - mean_b)
                 / sqrt(var_a / n_a + var_b / n_b), 4) AS z,
           abs(round((mean_a - mean_b)
                 / sqrt(var_a / n_a + var_b / n_b), 4)) > 1.96
             AS significant_95
    FROM wide
    """,
)
def report_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experiment readout on a continuous metric: users hash into
    arm A or B (content-addressed — sticky, engine-independent, no
    assignment table), the unit of analysis is the per-user mean value
    (clustered randomization done right: users, not events, are the
    experimental units), and Welch's z decides significance. Per-user
    means are order-free (exact_avg); arm means and variances come
    from EXACT integer moment sums (Σt, Σt² of the 4dp-scaled user
    means) through a fixed sequence of deterministic IEEE ops, so the
    z built from them is bit-identical cross-engine and is itself
    rounded before the |z| > 1.96 comparison.

    Scale shape: one user-keyed aggregate, a 2-row arm rollup, one
    final row. On this un-treated fixture the arms are exchangeable,
    so |z| should hover near 0 — the null behaving as a null is the
    sanity check, pinned in tests."""
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 25, 8), 16, 10
        ).cast("bigint")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    per_user = ev.groupBy("user_id").agg(
        _r(exact_avg("value"), 4).alias("user_mean")
    ).select(arm.alias("arm"), "user_mean")
    t = scaled_long("user_mean", 4)
    # Σt² runs in DECIMAL(38,0), not BIGINT: t² ~ (|mean|·10⁴)² wraps
    # int64 SILENTLY in Spark past ~2e7 users/arm at this fixture's
    # magnitudes (and immediately for money-scale metrics), while the
    # oracle widens to HUGEINT — decimal gives the same ~1e38 headroom
    # class on both engines and fails loud (null), never wrapped.
    td = t.cast("decimal(19,0)")
    per_arm = (
        per_user.groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(t).alias("s1"),
            F.sum(td * td).alias("s2"),
        )
        .select(
            "arm",
            "n",
            _r(
                F.col("s1").cast("double")
                / (F.col("n") * 10000).cast("double"),
                4,
            ).alias("mean_val"),
            _r(
                (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double")
                    * F.col("s1").cast("double")
                    / F.col("n")
                )
                / ((F.col("n") - 1) * F.lit(100000000.0)),
                4,
            ).alias("var_val"),
        )
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("mean_val"))).alias("mean_a"),
        F.max(F.when(F.col("arm") == "A", F.col("var_val"))).alias("var_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("mean_val"))).alias("mean_b"),
        F.max(F.when(F.col("arm") == "B", F.col("var_val"))).alias("var_b"),
    )
    z = _r(
        (F.col("mean_a") - F.col("mean_b"))
        / F.sqrt(
            F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
        ),
        4,
    )
    return wide.select(
        "n_a",
        "mean_a",
        "n_b",
        "mean_b",
        z.alias("z"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


@register(
    "agg_chi_square_independence",
    survey="A-family extension: chi-square independence of event type "
    "vs weekday — observed counts exact, expected counts rational, "
    "the statistic rounded at output",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(isodow(ts) - 1 AS INTEGER) AS wd,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    margins AS (
      SELECT o.event_type, o.wd, o.o,
             sum(o.o) OVER (PARTITION BY o.event_type) AS row_tot,
             sum(o.o) OVER (PARTITION BY o.wd) AS col_tot,
             sum(o.o) OVER () AS n
      FROM obs o
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT wd) - 1) AS BIGINT) AS dof,
           round(sum(power(o - row_tot * col_tot / CAST(n AS DOUBLE), 2)
                     / (row_tot * col_tot / CAST(n AS DOUBLE))), 4)
             AS chi2
    FROM margins
    """,
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does activity mix depend on the weekday? Pearson's chi² over the
    |types|×7 contingency table: observed cells are exact integer
    counts, expected cells are the rational margin products, and the
    statistic sums over a bounded grid (rounded at output — the only
    accumulation-order float). Compare chi² to the critical value for
    the reported dof externally; the engine's job is the exact table.

    Scale shape: one grouped count to the contingency grid; margins
    are windows over that bounded grid, never the facts."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", F.weekday("ts").cast("int").alias("wd")
    ).agg(F.count(F.lit(1)).alias("o"))
    margins = obs.select(
        "event_type",
        "wd",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("wd")).alias("col_tot"),
        F.sum("o").over(
            Window.partitionBy()
        ).alias("n"),
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n").cast("double")
    return margins.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("wd") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        _r(F.sum(F.pow(F.col("o") - e, 2) / e), 4).alias("chi2"),
    )


@register(
    "agg_benford_audit",
    survey="QA-family extension: Benford first-digit audit of order "
    "totals — observed digit shares vs the Benford expectation, the "
    "classic fabricated-numbers screen",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(abs(o_totalprice)) AS BIGINT)
                              AS VARCHAR),
                         1, 1) AS INTEGER) AS d1
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
      SELECT d1, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(count(*)) OVER () AS BIGINT) AS total
      FROM digits GROUP BY 1
    )
    SELECT d1, n, observed, benford,
           round(abs(observed - benford), 4) AS abs_dev
    FROM (
      SELECT d1, n,
             round(n / CAST(total AS DOUBLE), 4) AS observed,
             round(log10(1.0 + 1.0 / d1), 4) AS benford
      FROM obs
    )
    """,
)
def agg_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First significant digit of every order total against Benford's
    law (P(d) = log10(1 + 1/d)) — large deviations flag fabricated or
    truncated figures. The digit is extracted from the INTEGER part's
    string (exact on both engines; no float log in the extraction),
    counts are exact, and the three reported ratios round at output.
    The fixture's uniform-ish totals won't be Benford-distributed —
    the audit reporting a real deviation on non-log-uniform data is
    the correct reading, pinned in tests.

    Scale shape: one narrow digit projection and a 9-row aggregate."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    # floor BEFORE the integer cast: DuckDB's double->BIGINT cast
    # rounds while Spark's truncates — floor() pins both to truncation
    d1 = F.substring(
        F.floor(F.abs(F.col("o_totalprice"))).cast("bigint").cast("string"),
        1,
        1,
    ).cast("int")
    obs = (
        o.filter(F.col("o_totalprice") >= 1)
        .select(d1.alias("d1"))
        .groupBy("d1")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("total", F.sum("n").over(Window.partitionBy()))
    )
    ratio = F.col("n") / F.col("total").cast("double")
    benford = F.log10(1.0 + 1.0 / F.col("d1"))
    # deviation derives from the ROUNDED shares (round-before-compare:
    # an unrounded ratio/log differs at the last ulp between engines
    # and can land abs() across a rounding boundary)
    rounded = obs.select(
        "d1",
        "n",
        _r(ratio, 4).alias("observed"),
        _r(benford, 4).alias("benford"),
    )
    return rounded.select(
        "d1",
        "n",
        "observed",
        "benford",
        _r(F.abs(F.col("observed") - F.col("benford")), 4).alias("abs_dev"),
    )


@register(
    "win_max_drawdown",
    survey="W-family extension: maximum drawdown of cumulative daily "
    "revenue per priority — the risk metric form of 'how bad did the "
    "dip get', located deterministically via ordered prefix sums",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS priority,
             strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
             round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 4) AS rev
      FROM orders GROUP BY 1, 2
    ),
    -- equity/peak carried as exact integer cents: the prefix sums
    -- and the drawdown argmax are then integer arithmetic, with no
    -- float accumulation anywhere and a DESC ranking that cannot
    -- flip on a last-ulp difference
    cum AS (
      SELECT priority, day,
             sum(CAST(round(rev * 100) AS BIGINT))
               OVER (PARTITION BY priority ORDER BY day
                     ROWS UNBOUNDED PRECEDING) AS equity_c
      FROM daily
    ),
    dd AS (
      SELECT priority, day, equity_c,
             max(equity_c) OVER (PARTITION BY priority ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS peak_c
      FROM cum
    )
    SELECT priority, day AS trough_day,
           round(CAST(peak_c - equity_c AS DOUBLE) / 100, 4)
             AS max_drawdown
    FROM (
      SELECT *, row_number() OVER (PARTITION BY priority
                 ORDER BY peak_c - equity_c DESC, day) AS rn
      FROM dd
    ) WHERE rn = 1
    """,
)
def win_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-to-trough drop of the cumulative daily revenue curve per
    priority: running prefix (the 'equity curve'), running max (the
    peak), and the day maximizing peak − equity. Equity and peak are
    carried as EXACT integer cents, so the prefix sums and the argmax
    ranking are pure integer arithmetic — no float accumulates in any
    engine-dependent order (a windowed double sum can differ at the
    last ulp when one engine evaluates it via a segment tree), and the
    DESC tie-break can't flip; remaining ties break on the day string.

    Scale shape: two ordered windows and an argmax filter over the
    (priority × day) aggregate."""
    from pyspark.sql import Window as W2

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias(
            "day"
        ),
    ).agg(_r(exact_sum("o_totalprice"), 4).alias("rev"))
    w_ord = W2.partitionBy("priority").orderBy("day")
    rev_c = scaled_long("rev", 2)
    cum = daily.select(
        "priority",
        "day",
        F.sum(rev_c)
        .over(w_ord.rowsBetween(W2.unboundedPreceding, 0))
        .alias("equity_c"),
    )
    dd = cum.select(
        "priority",
        "day",
        "equity_c",
        F.max("equity_c")
        .over(w_ord.rowsBetween(W2.unboundedPreceding, 0))
        .alias("peak_c"),
    )
    w_rank = W2.partitionBy("priority").orderBy(
        F.desc(F.col("peak_c") - F.col("equity_c")), F.asc("day")
    )
    return (
        dd.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "priority",
            F.col("day").alias("trough_day"),
            _r(
                (F.col("peak_c") - F.col("equity_c")).cast("double") / 100,
                4,
            ).alias("max_drawdown"),
        )
    )


@register(
    "report_cohort_ltv",
    survey="A/W-family extension: cohort lifetime-value curves — "
    "cumulative revenue per customer by acquisition month and months "
    "since acquisition (the growth-accounting companion of "
    "cohort_retention's activity triangle)",
    oracle="""
    WITH firstorder AS (
      SELECT o_custkey,
             CAST(date_trunc('month', min(o_orderdate)) AS DATE)
               AS cohort_m
      FROM orders GROUP BY 1
    ),
    -- revenue carried as exact integer cents (o_totalprice is
    -- 2dp-exact): BIGINT sums are commutative, so neither the group
    -- aggregate nor the cumulative window depends on accumulation
    -- order; the single divide+round at the end is the only float op
    -- (a double sum flipped the 4dp boundary on 2/1845 rows in r6)
    rev AS (
      SELECT f.cohort_m,
             CAST((year(o.o_orderdate) - year(f.cohort_m)) * 12
                  + (month(o.o_orderdate) - month(f.cohort_m))
                  AS INTEGER) AS month_offset,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
               AS rev_cents
      FROM orders o JOIN firstorder f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT cohort_m, CAST(count(*) AS BIGINT) AS cohort_n
      FROM firstorder GROUP BY 1
    )
    SELECT strftime(r.cohort_m, '%Y-%m') AS cohort_month,
           r.month_offset, s.cohort_n,
           round(CAST(sum(r.rev_cents) OVER (PARTITION BY r.cohort_m
                 ORDER BY r.month_offset ROWS UNBOUNDED PRECEDING)
                 AS DOUBLE) / (s.cohort_n * 100), 4)
             AS cum_ltv_per_customer
    FROM rev r JOIN sizes s ON s.cohort_m = r.cohort_m
    """,
)
def report_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTV curves: customers grouped by first-order month, each
    cohort's revenue accumulated over month offsets and normalized by
    cohort size — the table under every 'payback period' chart.
    Month offsets are exact integer calendar arithmetic; revenue is
    carried as exact integer cents (o_totalprice is 2dp-exact) through
    BOTH the group aggregate and the cumulative window, so no float is
    summed in any engine-dependent order — the single divide+round at
    the end is the only float op.

    Scale shape: one customer-keyed first-order aggregate broadcast
    onto orders, a (cohort × offset)-bounded aggregate, and a
    cumulative window over that grid."""
    from pyspark.sql import Window as W2

    o = load_table(spark, sf_dir, "orders")
    firstorder = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias(
            "cohort_m"
        )
    )
    rev = (
        o.join(F.broadcast(firstorder), "o_custkey")
        .groupBy(
            "cohort_m",
            (
                (F.year("o_orderdate") - F.year("cohort_m")) * 12
                + (F.month("o_orderdate") - F.month("cohort_m"))
            )
            .cast("int")
            .alias("month_offset"),
        )
        .agg(
            F.sum(scaled_long("o_totalprice", 2)).alias("rev_cents")
        )
    )
    sizes = firstorder.groupBy("cohort_m").agg(
        F.count(F.lit(1)).alias("cohort_n")
    )
    w = (
        W2.partitionBy("cohort_m")
        .orderBy("month_offset")
        .rowsBetween(W2.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_m")
        .select(
            F.date_format("cohort_m", "yyyy-MM").alias("cohort_month"),
            "month_offset",
            "cohort_n",
            _r(
                F.sum("rev_cents").over(w).cast("double")
                / (F.col("cohort_n") * 100).cast("double"),
                4,
            ).alias("cum_ltv_per_customer"),
        )
    )


# Damped PageRank, K=3 power iterations unrolled. The node set is the
# customer key space (contiguous 0..N-1 in the fixtures) and the edge
# set is the deterministic 3-regular modular graph u -> (u*m + 1) % N
# for m in {2,3,5}: closed over the key space, reproducible bit-for-bit
# in both engines, non-trivial structure (collisions give real in-degree
# variance). Out-degree is exactly 3 by construction (multi-edges kept),
# so no dangling-mass term is needed.
_PR_DAMP = 0.85
_PR_ITERS = 3
_PR_TOPK = 20


@register(
    "graph_pagerank_topk",
    survey="north-star: graph analytics tier beside "
    "dedup_connected_components — fixed-iteration damped PageRank "
    "(the influence/centrality rollup a behavior pipeline feeds from "
    "its interaction graph), top-k by rank",
    oracle="""
    WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
    edges AS (
      SELECT c_custkey AS src, (c_custkey * m + 1) % (SELECT n FROM nn) AS dst
      FROM customer, UNNEST([2, 3, 5]) AS t(m)
    ),
    r0 AS (SELECT c_custkey AS v, 1.0 / (SELECT n FROM nn) AS rank
           FROM customer),
    c1 AS (SELECT dst, sum(rank / 3.0) AS in_rank FROM edges
           JOIN r0 ON src = v GROUP BY dst),
    r1 AS (SELECT c.c_custkey AS v,
                  0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c1.in_rank, 0)
                    AS rank
           FROM customer c LEFT JOIN c1 ON c1.dst = c.c_custkey),
    c2 AS (SELECT dst, sum(rank / 3.0) AS in_rank FROM edges
           JOIN r1 ON src = v GROUP BY dst),
    r2 AS (SELECT c.c_custkey AS v,
                  0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c2.in_rank, 0)
                    AS rank
           FROM customer c LEFT JOIN c2 ON c2.dst = c.c_custkey),
    c3 AS (SELECT dst, sum(rank / 3.0) AS in_rank FROM edges
           JOIN r2 ON src = v GROUP BY dst),
    r3 AS (SELECT c.c_custkey AS v,
                  0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c3.in_rank, 0)
                    AS rank
           FROM customer c LEFT JOIN c3 ON c3.dst = c.c_custkey),
    ranked AS (
      SELECT v, round(rank, 6) AS pr,
             row_number() OVER (ORDER BY round(rank, 6) DESC, v) AS rk
      FROM r3
    )
    SELECT v, pr, CAST(rk AS INTEGER) AS rk FROM ranked WHERE rk <= 20
    """,
)
def graph_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85), K=3 unrolled power iterations over the
    deterministic modular customer graph, top-20 nodes by the ROUNDED
    rank (6 dp — ordering on the raw double would let cross-engine ulp
    noise reorder mathematical ties), ties by node id.

    Scale shape: each iteration is one equi-join of the edge table with
    the rank vector on src plus one groupBy(dst) with map-side partial
    sums — the standard distributed PageRank step. K is FIXED and the
    loop unrolls into one declarative plan (no driver-side convergence
    actions — the dedup_connected_components contrast, which needs a
    per-round action because its iteration count is data-dependent). At
    web scale the edge table would be bucketed by src so the per-
    iteration join never re-shuffles the edges; the rank vector
    (node-sized) is the only per-iteration exchange. N arrives via one
    bounded count() action inlined as a literal (the one-row-aggregate
    pattern accounted in test_plan_audit.py)."""
    cust = load_table(spark, sf_dir, "customer")
    n = cust.count()
    damp = _PR_DAMP
    edges = cust.select(
        F.col("c_custkey").alias("src"),
        F.explode(F.array(F.lit(2), F.lit(3), F.lit(5))).alias("m"),
    ).select("src", ((F.col("src") * F.col("m") + 1) % F.lit(n)).alias("dst"))
    ranks = cust.select(
        F.col("c_custkey").alias("v"), F.lit(1.0 / n).alias("rank")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.v)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.lit(3.0)).alias("in_rank"))
        )
        ranks = (
            cust.select(F.col("c_custkey").alias("v"))
            .join(contrib, F.col("v") == F.col("dst"), "left")
            .select(
                "v",
                (
                    F.lit((1 - damp) / n)
                    + F.lit(damp) * F.coalesce(F.col("in_rank"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    order = [F.desc("pr"), F.asc("v")]
    topk = ranks.select("v", _r("rank", 6).alias("pr")).orderBy(*order).limit(
        _PR_TOPK
    )
    w = Window.orderBy(*order)
    return topk.select(
        "v", "pr", F.row_number().over(w).cast("int").alias("rk")
    )


@register(
    "agg_cumulative_users",
    survey="A-family extension: cumulative distinct users by day via the "
    "first-seen reduction (growth-curve reporting beside agg_wau_exact's "
    "trailing window)",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS d
      FROM events GROUP BY 1
    ),
    per_day AS (
      SELECT d, CAST(count(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY 1
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, new_users,
           CAST(sum(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
    FROM per_day
    """,
)
def agg_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day. A naive per-day cumulative
    DISTINCT re-enumerates every user for every day; the first-seen
    reduction makes it one groupBy(user_id) min-day aggregate (map-side
    combinable), a per-day count over the |users| table, and a running
    sum over the |days| table — the only window sits on day-report
    granularity, never on facts."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("d")
    )
    per_day = first_seen.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = Window.orderBy("d")
    return per_day.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


@register(
    "report_pareto_deciles",
    survey="report-tier extension: revenue concentration by customer "
    "decile (the 80/20 audit — how much of total revenue the top decile "
    "carries)",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS revenue
      FROM orders GROUP BY 1
    ),
    -- per-customer revenue is cents-exact; carry cents (BIGINT,
    -- commutative) through the decile sums and the global total so
    -- neither depends on accumulation order
    tot AS (SELECT sum(CAST(round(revenue * 100) AS BIGINT)) AS tc FROM rev),
    deciled AS (
      SELECT revenue,
             ntile(10) OVER (ORDER BY revenue DESC, o_custkey) AS decile
      FROM rev
    )
    SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
           round(CAST(sum(CAST(round(revenue * 100) AS BIGINT)) AS DOUBLE)
                 / 100, 2) AS revenue,
           round(CAST(sum(CAST(round(revenue * 100) AS BIGINT)) AS DOUBLE)
                 / (SELECT CAST(tc AS DOUBLE) FROM tot), 6)
             AS revenue_share
    FROM deciled GROUP BY 1
    """,
)
def report_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: customers ntile'd into deciles by
    revenue (ties broken by custkey — deterministic), each decile's
    customer count, revenue, and share of total.

    Scale shape: facts collapse to the per-customer revenue table
    first (one map-side-combined aggregate); the ntile window and the
    one-row total run over |customers|-bounded data — the
    report_rfm_scores accounted shape. Per-customer revenue is rounded
    to cents BEFORE deciling on both sides so the rank order feeds
    from identical values (the round-before-compare rule)."""
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(_r(exact_sum("o_totalprice"), 2).alias("revenue"))
    )
    rev_c = scaled_long("revenue", 2)
    total_c = F.sum(rev_c).over(Window.partitionBy())
    deciled = rev.select(
        "revenue",
        F.ntile(10)
        .over(Window.orderBy(F.desc("revenue"), F.asc("o_custkey")))
        .alias("decile"),
        total_c.alias("tc"),
    )
    return deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        _r(F.sum(rev_c).cast("double") / 100, 2).alias("revenue"),
        _r(
            F.sum(rev_c).cast("double") / F.first("tc").cast("double"), 6
        ).alias("revenue_share"),
    )
