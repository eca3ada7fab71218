"""Catalog: event-stream window queries (SURVEY.md §2.12).

The reference has no streaming; these are the idiomatic Structured
Streaming slices over the events table, registered here in their BATCH
form (identical DataFrame code — Structured Streaming runs the same
logical plan incrementally). The true streaming execution (readStream →
watermark → windowed agg → writeStream, availableNow trigger) is
exercised in tests/test_streaming.py via streaming/events.py, which
reuses these transformations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.queries import register
from nyc_traffic_insight_spark.sources import load_table
from nyc_traffic_insight_spark.functions.rounding import r as _r


@register(
    "stream_tumbling_counts",
    survey="§2.12 tumbling-window counts w/ watermark (extension); S12 rate-limited source analog = maxFilesPerTrigger (enrich_weather.py:69-121)",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type, count(*) AS n,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100, 4) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type. In streaming mode the same
    plan runs with withWatermark('ts', ...) bounding state; see
    streaming/events.py."""
    from nyc_traffic_insight_spark.streaming.events import tumbling_counts

    return tumbling_counts(load_table(spark, sf_dir, "events"))


@register(
    "stream_sliding_counts",
    survey="§2.12 sliding-window counts (extension)",
    oracle="""
    WITH offsets AS (SELECT unnest([0, 30]) AS off_min),
    slotted AS (
      SELECT date_trunc('hour', ts - to_minutes(off_min)) + to_minutes(off_min)
               AS window_start,
             event_type, value
      FROM events, offsets
    )
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           event_type, count(*) AS n
    FROM slotted GROUP BY 1, 2, 3
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min: each event lands in 2
    windows. Spark's window(ts, '1 hour', '30 minutes') assigns both;
    the oracle reproduces the assignment arithmetic explicitly."""
    from nyc_traffic_insight_spark.streaming.events import sliding_counts

    return sliding_counts(load_table(spark, sf_dir, "events"))


@register(
    "stream_dedup_ids",
    survey="§2.12 streaming dropDuplicates on event_id (extension)",
    oracle="""
    SELECT event_id, min(ts) AS first_ts
    FROM events GROUP BY 1
    """,
)
def stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once by event_id: batch form is a min-ts group; streaming
    form is dropDuplicates('event_id') with a watermark bounding the
    dedup state."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_id")
        .agg(F.min("ts").alias("first_ts"))
    )


@register(
    "stream_file_ingest",
    survey="S12 rate-limited checkpointed HTTP ingest "
    "(enrich_weather.py:69-121) as a maxFilesPerTrigger=1 file stream "
    "with checkpoint/resume; resume semantics pinned in "
    "tests/test_streaming.py",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
)
def stream_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the throttled ingest end-to-end and return what landed.

    The events table is staged as 4 source files; the stream drains them
    one file per micro-batch (availableNow) into a checkpointed parquet
    sink, and the builder returns the sink's contents. Ingest is
    pass-through, so the oracle is the full events table — a value-hash
    check that every row arrived exactly once (the checkpoint + sink
    commit log guarantee). The two-phase resume (stop, add files,
    restart from checkpoint, no duplicates) is exercised in
    tests/test_streaming.py."""
    import os
    import shutil

    from nyc_traffic_insight_spark.queries.core import _tmp
    from nyc_traffic_insight_spark.streaming.events import run_throttled_ingest

    ev = load_table(spark, sf_dir, "events")
    # deterministic scratch base, wiped per invocation: a fresh
    # checkpoint/source/sink triple every run (the resume-from-checkpoint
    # path is exercised separately in tests/test_streaming.py) without
    # mkdtemp's orphan accumulation across bench reps
    base = _tmp(sf_dir, "stream_ingest")
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    chk = os.path.join(base, "chk")
    out = os.path.join(base, "out")
    ev.repartition(4).write.parquet(src)
    run_throttled_ingest(spark, src, chk, out, files_per_trigger=1)
    return spark.read.parquet(out).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@register(
    "stream_sessionization",
    survey="§2.12 session windows per user (extension)",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR epoch_us(ts)
                     - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                     > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM ordered
    )
    SELECT user_id, session_id, min(ts) AS session_start,
           max(ts) AS session_end, count(*) AS n_events
    FROM sessions GROUP BY 1, 2
    """,
)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessionization: the batch (windowed) equivalent of
    Structured Streaming's session_window(ts, '30 minutes') — the
    gaps-and-islands form distributes per user_id."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    new_session = (
        prev.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev) > 30 * 60 * 1_000_000)
    ).cast("int")
    sessions = ev.withColumn(
        "session_id",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "stream_stream_join",
    survey="§2.12 stream-stream interval join (extension): purchases "
    "within 30 min after a click by the same user — "
    "streaming/events.py::correlate_streams over the batch frames "
    "(real two-stream run + watermark-eviction semantics pinned in "
    "tests/test_streaming.py)",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
             value AS amount
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id, p.purchase_id,
           CAST(date_diff('second', c.click_ts, p.purchase_ts) AS BIGINT)
             AS secs_to_purchase,
           round(p.amount, 4) AS amount
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution pairs: same user, purchase inside the
    30 minutes after the click. This runs correlate_streams, the
    watermarked stream-stream join, on the batch click and purchase
    frames (the optimizer drops ``withWatermark`` from a batch plan), so
    the oracle checks the exact join the stream runs.

    Scale shape: the EQUI key (user_id) drives the shuffle — both
    sides co-partition on user and the time predicate is a residual
    filter inside the sorted join, never a cross product. In streaming
    mode the same plan bounds its state with the two watermarks (a
    click older than the watermark can never match a future purchase
    and is evicted)."""
    from nyc_traffic_insight_spark.streaming.events import correlate_streams

    ev = load_table(spark, sf_dir, "events")
    pairs = correlate_streams(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    return pairs.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts"))
        .cast("bigint")
        .alias("secs_to_purchase"),
        _r(F.col("amount"), 4).alias("amount"),
    )


@register(
    "stream_disorder_audit",
    survey="§2.12 extension: out-of-orderness audit — per-type lateness "
    "distribution of the event stream (running-max(ts) in arrival "
    "order minus own ts), the measurement that picks a watermark "
    "instead of guessing one",
    oracle="""
    WITH arr AS (
      SELECT event_type,
             CAST(date_diff('second', ts,
                  max(ts) OVER (PARTITION BY event_type ORDER BY event_id
                                ROWS UNBOUNDED PRECEDING)) AS BIGINT)
               AS late_s
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(max(late_s) AS BIGINT) AS max_late_s,
           round(quantile_cont(CAST(late_s AS DOUBLE), 0.95), 4)
             AS p95_late_s
    FROM arr GROUP BY 1
    """,
)
def stream_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How out-of-order is the stream? Arrival order is event_id (the
    ingest sequence); each event's lateness is the running maximum
    event-time seen so far minus its own event time. The p95/max of
    that distribution IS the watermark decision: a watermark below
    p95 drops real data, far above it holds state needlessly — the
    catalog's streaming queries (tumbling/sliding/sessionization)
    should set their delays from this table, not from folklore.

    The fixture's generator assigns event_id in timestamp order, so
    this audit reports a fully-on-time stream here (n_late = 0 per
    type) — itself a meaningful result; disorder_audit() is exercised
    on a deliberately shuffled stream in tests/test_streaming.py,
    where the lateness numbers are nonzero and checked against a
    NumPy golden.

    Determinism: lateness is integer seconds off a running max —
    exact on both engines; only the p95 interpolation is float,
    rounded floor-form. Scale shape: one event_type-partitioned
    ordered pass for the running max, then a grouped summary; the
    exact percentile buffers one group per reducer (the
    agg_percentile_exact trade, fine at |types| cardinality)."""
    return disorder_audit(load_table(spark, sf_dir, "events"))


def disorder_audit(ev: DataFrame) -> DataFrame:
    """Core of stream_disorder_audit over any events-shaped frame
    (event_type, event_id arrival order, ts event time)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = ev.select(
        "event_type",
        (
            F.unix_timestamp(F.max("ts").over(w)) - F.unix_timestamp("ts")
        )
        .cast("bigint")
        .alias("late_s"),
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late"),
        F.max("late_s").alias("max_late_s"),
        _r(F.percentile(F.col("late_s").cast("double"), F.lit(0.95)), 4).alias(
            "p95_late_s"
        ),
    )


@register(
    "win_sessionize_native",
    survey="§2.12/W-family: Spark's NATIVE session_window in batch "
    "mode, cross-checked against the gaps-and-islands SQL formulation "
    "— proving the built-in operator and the manual window agree "
    "row-for-row on session boundaries",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE
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
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_seq
    """,
)
def win_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 30-minute-gap sessions as win_sessionize_batch, but via
    Spark's native ``session_window`` aggregate — the operator that
    also powers the streaming sessionizer, here in batch mode. The
    oracle is the independent gaps-and-islands SQL, so this entry
    cross-checks Spark's built-in session semantics (gap measured from
    the LAST event, windows merged transitively) against the manual
    formulation: if they ever diverged, this row goes red.

    Note session_window's end is exclusive (last event + gap); the
    comparable boundary is max(ts), aggregated alongside.

    Scale shape: one shuffle on user_id; Spark merges session windows
    inside the aggregate — no self-join, no second window pass."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


@register(
    "qa_rapid_repeat_audit",
    survey="QA-family extension: burst / double-fire detection — same "
    "user repeating the same event type within 60 s (the retry and "
    "double-click signature that survives event_id dedup because each "
    "firing gets a fresh id)",
    oracle="""
    WITH seq AS (
      SELECT event_id, user_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT event_id, user_id, event_type,
           CAST(date_diff('second', prev_ts, ts) AS BIGINT) AS gap_s
    FROM seq
    WHERE prev_ts IS NOT NULL
      AND date_diff('second', prev_ts, ts) <= 60
    """,
)
def qa_rapid_repeat_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suspected duplicate firings: a user repeating the same event
    type within 60 seconds of the previous occurrence. Emits the later
    event of each rapid pair with the integer-second gap; downstream
    quarantines or collapses them. (Keying on the full value triple
    would be vacuous here — the fixture's value column is a continuous
    double that never repeats — so the audit keys on the behavioral
    signature instead.)

    Scale shape: one lag window partitioned by the audit key itself —
    the shuffle IS the candidate grouping, no self-join; integer-second
    gaps keep the threshold comparison float-proof."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            gap.cast("bigint").alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull() & (F.col("gap_s") <= 60))
    )


@register(
    "pipeline_http_to_parquet",
    survey="S12 end-to-end: the reference's poll->merge pipeline "
    "(enrich_weather.py:69-178) as a REGISTERED query — rate-limited "
    "checkpointed HTTP ingest -> JSONL spool -> checkpointed file "
    "stream -> parquet sink -> per-page aggregate. The fetch seam is a "
    "deterministic local generator (no network in the driver gate), so "
    "the aggregate is fully value-oracled via generate_series",
    oracle="""
    SELECT CAST(i AS INTEGER) AS page,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum((i * 100 + j) * 7 % 13) AS BIGINT) AS sum_value
    FROM generate_series(0, 2) t(i)
    CROSS JOIN generate_series(0, 99) s(j)
    GROUP BY 1
    """,
)
def pipeline_http_to_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full S12 pipeline under the driver's hash gate.

    HttpIngest (sources/http_ingest.py: fixed-window budgets, retry,
    URL-keyed cache, per-item checkpoint) pulls three 'pages' through
    its fetch seam — a deterministic generator standing in for the
    network, emitting row (id = page*100 + j, value = id*7 % 13) —
    and lands each page as an atomic JSONL spool file. A checkpointed
    availableNow file stream (maxFilesPerTrigger=1, the S12 drain
    shape) moves the spool into a parquet sink exactly once; the
    returned aggregate is computed FROM THE SINK, so the hash match
    proves the whole path landed every row exactly once. At scale the
    poller stays a driver-side sequential loop (it is rate-limit-bound
    by construction) while the spool->sink->aggregate side is the
    cluster's usual parallel ingest.
    """
    import json
    import os
    import shutil

    from nyc_traffic_insight_spark.queries.core import _tmp
    from nyc_traffic_insight_spark.sources.http_ingest import HttpIngest

    base = _tmp(sf_dir, "http_pipeline")
    shutil.rmtree(base, ignore_errors=True)
    spool = os.path.join(base, "spool")
    chk = os.path.join(base, "chk")
    out = os.path.join(base, "out")

    def fake_fetch(url: str) -> bytes:
        page = int(url.rsplit("/", 1)[1])
        rows = [
            {"page": page, "id": page * 100 + j, "value": (page * 100 + j) * 7 % 13}
            for j in range(100)
        ]
        return json.dumps(rows).encode()

    ing = HttpIngest(
        spool_dir=spool,
        cache_dir=os.path.join(base, "cache"),
        checkpoint_path=os.path.join(base, "ckpt", "progress.jsonl"),
        fetch=fake_fetch,
        sleep=lambda s: None,
    )
    ing.run([(f"page_{i}", f"local://pages/{i}") for i in range(3)])

    stream = (
        spark.readStream.schema("page int, id long, value long")
        .option("maxFilesPerTrigger", 1)
        .json(spool)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(
            "http->parquet drain did not finish in 120s; the sink is "
            "partial — failing loudly instead of aggregating it"
        )
    return (
        spark.read.parquet(out)
        .groupBy("page")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("value").cast("bigint").alias("sum_value"),
        )
    )
