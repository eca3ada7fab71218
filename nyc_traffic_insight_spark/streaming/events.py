"""Structured Streaming slice over the events table.

The reference has no streaming surface (SURVEY.md §2.12); its closest
analogs are the checkpointed, rate-limited ingest poller
(``scripts/enrich_weather.py:69-121,172-178`` — at-least-once with
resume) and the lazily refreshed model cache. This module is the
idiomatic Spark re-expression: file-source readStream → event-time
windowed aggregation with a watermark for late data → checkpointed
writeStream.

The transformation functions below take a plain DataFrame and work
identically in batch and streaming mode — that is the point of
Structured Streaming's unified model, and it lets the DuckDB oracle
check the batch form of the exact code the stream runs
(queries/streamingq.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.schemas import EVENTS
from nyc_traffic_insight_spark.functions.rounding import exact_sum, r as _r


def tumbling_counts(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """1-hour tumbling windows per event_type: count + value sum.

    With ``watermark`` set (streaming mode), state for windows older
    than max(event time) - watermark is evicted — bounded memory at any
    throughput; late rows within the watermark still update their
    window (the reference's partial-checkpoint resume gives only
    at-least-once appends, no late-data correction).
    """
    if watermark:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(exact_sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame, watermark: str | None = None) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event in 2 windows)."""
    if watermark:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def run_throttled_ingest(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    files_per_trigger: int = 1,
) -> None:
    """S12 closure: the reference's rate-limited, checkpointed ingest
    poller (``scripts/enrich_weather.py:69-121,172-178`` — 0.8 s
    inter-request sleep, retry/backoff, partial-checkpoint resume)
    re-expressed as a throttled file-source stream.

    ``maxFilesPerTrigger=1`` caps per-micro-batch work — the streaming
    analog of the request rate limit; the checkpoint dir records source
    offsets — the resume state (a restarted run continues from the last
    committed file, never re-ingesting); and the parquet sink's commit
    log upgrades the reference's at-least-once appends to exactly-once
    (a replayed batch is recognized and skipped). availableNow drains
    whatever is present then stops — deterministic for tests; a
    processingTime trigger gives the continuous poller."""
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(source_dir)
    )
    (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def correlate_streams(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream inner join: purchases within 30 minutes AFTER a
    click by the same user. Both sides carry watermarks so the join
    state for expired time ranges is evicted — without them the state
    grows forever; with them Spark knows a click older than the
    watermark can never match a future purchase."""
    c = clicks.withWatermark("ts", "1 hour").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", "1 hour").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("amount"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
    ).select("c_user", "click_id", "click_ts", "purchase_id", "purchase_ts", "amount")
