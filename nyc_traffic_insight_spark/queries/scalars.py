"""Catalog: scalar expression surface (SURVEY.md §2.9, C1–C16).

Everything here is a built-in JVM expression inside whole-stage codegen —
no Python in the hot path. The reference implements several of these as
``apply(lambda)`` row loops; the Spark forms are the vectorized
equivalents. The one genuine UDF (C17 CRS reprojection) lives in
``functions/geo.py`` and is registered in textops/mlq-style rows-only
form at the bottom.

Hash-compare discipline: float *formatting* differs between engines
(Java vs C printf rounding), so string-built columns only ever format
integers/strings; float MATH is identical IEEE754, so arithmetic columns
are safe (rounded when accumulation-order-dependent).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.functions.geo import wkt_point_x, wkt_point_y
from nyc_traffic_insight_spark.queries import register
from nyc_traffic_insight_spark.sources import load_table
from nyc_traffic_insight_spark.functions.rounding import r as _r


@register(
    "str_wkt_parse",
    survey="C1 WKT POINT parse → lon/lat (raw_merge.py:15-17)",
    oracle="""
    WITH wkt AS (
      SELECT event_id,
             printf('POINT (%d.25 %d.75)', user_id, event_id % 1000) AS WktGeom
      FROM events
    )
    SELECT event_id, WktGeom,
           CAST(regexp_extract(WktGeom, 'POINT \\(([-0-9.]+) ([-0-9.]+)\\)', 1)
                AS DOUBLE) AS lon,
           CAST(regexp_extract(WktGeom, 'POINT \\(([-0-9.]+) ([-0-9.]+)\\)', 2)
                AS DOUBLE) AS lat
    FROM wkt
    """,
)
def str_wkt_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a WKT column (integer-formatted so both engines print
    identically), then parse it back with the engine's WKT POINT
    helpers (``functions/geo.wkt_point_x``/``wkt_point_y``)."""
    ev = load_table(spark, sf_dir, "events")
    wkt = F.format_string("POINT (%d.25 %d.75)", "user_id", F.col("event_id") % 1000)
    return ev.select(
        "event_id",
        wkt.alias("WktGeom"),
        wkt_point_x(wkt).alias("lon"),
        wkt_point_y(wkt).alias("lat"),
    )


@register(
    "str_functions",
    survey="C2 lower (main.py:184,188) + trim/upper/concat/substr surface",
    oracle="""
    SELECT doc_id,
           lower(source) AS src_lower, upper(lang) AS lang_upper,
           source || ':' || lang AS src_lang,
           substr(text, 1, 40) AS prefix40,
           CAST(length(text) AS INTEGER) AS text_len,
           trim('  ' || source || ' ') AS trimmed,
           replace(source, 'src', 'source_') AS renamed_src
    FROM documents
    """,
)
def str_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lower("source").alias("src_lower"),
        F.upper("lang").alias("lang_upper"),
        F.concat_ws(":", "source", "lang").alias("src_lang"),
        F.substring("text", 1, 40).alias("prefix40"),
        F.length("text").cast("int").alias("text_len"),
        F.trim(F.concat(F.lit("  "), F.col("source"), F.lit(" "))).alias("trimmed"),
        F.replace(F.col("source"), F.lit("src"), F.lit("source_")).alias(
            "renamed_src"
        ),
    )


@register(
    "str_timestamp_build",
    survey="C4 zero-padded ISO string from int parts (convert_traffic_csv_to_geojson_point.py:38)",
    oracle="""
    SELECT event_id,
           printf('%d-%02d-%02dT%02d:%02d:00',
                  CAST(year(ts) AS INTEGER), CAST(month(ts) AS INTEGER),
                  CAST(day(ts) AS INTEGER), CAST(hour(ts) AS INTEGER),
                  CAST(minute(ts) AS INTEGER)) AS iso_ts
    FROM events
    """,
)
def str_timestamp_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.format_string(
            "%d-%02d-%02dT%02d:%02d:00",
            F.year("ts"),
            F.month("ts"),
            F.dayofmonth("ts"),
            F.hour("ts"),
            F.minute("ts"),
        ).alias("iso_ts"),
    )


@register(
    "dt_extract",
    survey="C5 year/month/day/hour (raw_merge.py:29-32) + C6 quarter/weekday/date (features.py:11-13)",
    oracle="""
    SELECT event_id,
           CAST(year(ts) AS INTEGER) AS yr, CAST(month(ts) AS INTEGER) AS mth,
           CAST(day(ts) AS INTEGER) AS dd, CAST(hour(ts) AS INTEGER) AS hh,
           CAST(minute(ts) AS INTEGER) AS mi,
           CAST(quarter(ts) AS INTEGER) AS qtr,
           CAST(isodow(ts) - 1 AS INTEGER) AS wd,
           CAST(ts AS DATE) AS d
    FROM events
    """,
)
def dt_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction; `wd` pins the pandas weekday convention
    (Mon=0) — Spark's weekday() matches it, Spark's dayofweek() (Sun=1)
    does NOT. The reference relies on Mon=0 for its weekend flag."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("yr"),
        F.month("ts").alias("mth"),
        F.dayofmonth("ts").alias("dd"),
        F.hour("ts").alias("hh"),
        F.minute("ts").alias("mi"),
        F.quarter("ts").alias("qtr"),
        F.weekday("ts").alias("wd"),
        F.to_date("ts").alias("d"),
    )


@register(
    "flag_weekend",
    survey="C7 weekday>=5 (features.py:22)",
    oracle="""
    SELECT o_orderkey, CAST(isodow(o_orderdate) - 1 >= 5 AS INTEGER) AS isWeekend
    FROM orders
    """,
)
def flag_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.weekday("o_orderdate") >= 5).cast("int").alias("isWeekend"),
    )


@register(
    "flag_season",
    survey="C8 month-set membership flags (features.py:18-21)",
    oracle="""
    SELECT o_orderkey,
           CAST(month(o_orderdate) IN (12, 1, 2, 3) AS INTEGER) AS is_winter,
           CAST(month(o_orderdate) IN (4, 5)        AS INTEGER) AS is_spring,
           CAST(month(o_orderdate) IN (6, 7, 8, 9)  AS INTEGER) AS is_summer,
           CAST(month(o_orderdate) IN (10, 11)      AS INTEGER) AS is_autumn
    FROM orders
    """,
)
def flag_season(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's exact (idiosyncratic) month→season sets."""
    o = load_table(spark, sf_dir, "orders")
    m = F.month("o_orderdate")
    return o.select(
        "o_orderkey",
        m.isin(12, 1, 2, 3).cast("int").alias("is_winter"),
        m.isin(4, 5).cast("int").alias("is_spring"),
        m.isin(6, 7, 8, 9).cast("int").alias("is_summer"),
        m.isin(10, 11).cast("int").alias("is_autumn"),
    )


@register(
    "flag_rush_hour",
    survey="C9 rush-hour apply(lambda) → when/between (random_forest.py:153)",
    oracle="""
    SELECT event_id, CAST(hour(ts) AS INTEGER) AS hh,
           CASE WHEN (hour(ts) BETWEEN 7 AND 9) OR (hour(ts) BETWEEN 16 AND 18)
                THEN 1 ELSE 0 END AS is_rush_hour
    FROM events
    """,
)
def flag_rush_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hh = F.hour("ts")
    return ev.select(
        "event_id",
        hh.alias("hh"),
        F.when(hh.between(7, 9) | hh.between(16, 18), 1).otherwise(0).alias(
            "is_rush_hour"
        ),
    )


@register(
    "cyclical_encode",
    survey="C10 sin/cos cyclical encodings (SegmentedModeling.py:227-233)",
    oracle=f"""
    SELECT event_id,
           round(sin(2 * {math.pi} * hour(ts) / 24.0), 6) AS hour_sin,
           round(cos(2 * {math.pi} * hour(ts) / 24.0), 6) AS hour_cos,
           round(sin(2 * {math.pi} * (isodow(ts) - 1) / 7.0), 6) AS wd_sin,
           round(cos(2 * {math.pi} * (isodow(ts) - 1) / 7.0), 6) AS wd_cos,
           round(sin(2 * {math.pi} * month(ts) / 12.0), 6) AS month_sin,
           round(cos(2 * {math.pi} * month(ts) / 12.0), 6) AS month_cos
    FROM events
    """,
)
def cyclical_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tau = F.lit(2 * math.pi)

    def enc(col, period, name):
        return [
            _r(F.sin(tau * col / period), 6).alias(f"{name}_sin"),
            _r(F.cos(tau * col / period), 6).alias(f"{name}_cos"),
        ]

    return ev.select(
        "event_id",
        *enc(F.hour("ts"), 24.0, "hour"),
        *enc(F.weekday("ts"), 7.0, "wd"),
        *enc(F.month("ts"), 12.0, "month"),
    )


@register(
    "log1p_expm1",
    survey="C11 log-target transform + inverse (SegmentedModeling.py:248,108)",
    oracle="""
    SELECT event_id,
           round(ln(1 + value), 6) AS value_log1p,
           round(exp(ln(1 + value)) - 1, 6) AS value_roundtrip
    FROM events WHERE value >= 0
    """,
)
def log1p_expm1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") >= 0)
    logged = F.log1p("value")
    return ev.select(
        "event_id",
        _r(logged, 6).alias("value_log1p"),
        _r(F.expm1(logged), 6).alias("value_roundtrip"),
    )


@register(
    "interaction_products",
    survey="C12 pairwise feature products (features.py:31-40)",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_quantity * l_discount, 6) AS qty_x_discount,
           round(l_extendedprice * (1 - l_discount), 6) AS discounted_price,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charged,
           round(l_quantity * CAST(month(l_shipdate) IN (12, 1, 2, 3) AS INTEGER), 6)
             AS qty_x_winter
    FROM lineitem
    """,
)
def interaction_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _r(F.col("l_quantity") * F.col("l_discount"), 6).alias("qty_x_discount"),
        _r(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
            "discounted_price"
        ),
        _r(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
            6,
        ).alias("charged"),
        _r(
            F.col("l_quantity")
            * F.month("l_shipdate").isin(12, 1, 2, 3).cast("int"),
            6,
        ).alias("qty_x_winter"),
    )


@register(
    "case_volume_bins",
    survey="C13 volume→color buckets (main.py:215-225)",
    oracle="""
    SELECT event_id, value,
           CASE WHEN value > 80 THEN 'red'
                WHEN value > 60 THEN 'orange'
                WHEN value > 30 THEN 'yellow'
                ELSE 'green' END AS color
    FROM events
    """,
)
def case_volume_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        "value",
        F.when(v > 80, "red")
        .when(v > 60, "orange")
        .when(v > 30, "yellow")
        .otherwise("green")
        .alias("color"),
    )


@register(
    "round_decimal",
    survey="C14 2-dp coordinate rounding (enrich_weather.py:52-54)",
    oracle="SELECT event_id, round(value, 2) AS value_2dp FROM events",
)
def round_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id", _r("value", 2).alias("value_2dp")
    )


@register(
    "cond_route",
    survey="C15 np.where routing (SegmentedModeling.py:101-107)",
    oracle="""
    SELECT event_id,
           CASE WHEN event_type = 'error' OR value > 90
                THEN round(value * 2.0, 6) ELSE round(value * 0.5, 6) END
             AS routed_value
    FROM events
    """,
)
def cond_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The segmented-model router shape: rows matching the event mask get
    one model's output, the rest the other's (here: two deterministic
    stand-in expressions)."""
    ev = load_table(spark, sf_dir, "events")
    mask = (F.col("event_type") == "error") | (F.col("value") > 90)
    return ev.select(
        "event_id",
        F.when(mask, _r(F.col("value") * 2.0, 6))
        .otherwise(_r(F.col("value") * 0.5, 6))
        .alias("routed_value"),
    )


@register(
    "json_struct_build",
    survey="C16 GeoJSON Feature build (convert_traffic_csv_to_geojson_point.py:29-46); S8 GeoJSON sink as one Feature JSON string per row (struct + to_json)",
    oracle="""
    SELECT event_id,
           printf('{"type":"Feature","geometry":{"type":"Point","coordinates":[%d,%d]},"properties":{"RequestID":%d,"Type":"%s"}}',
                  user_id, event_id % 1000, event_id, event_type) AS feature_json
    FROM events
    """,
)
def json_struct_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row GeoJSON Feature via struct() + to_json — the declarative
    form of the reference's dict-building row loop. (Coordinates are
    integers here so both engines print identical JSON.)"""
    ev = load_table(spark, sf_dir, "events")
    feature = F.struct(
        F.lit("Feature").alias("type"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(F.col("user_id"), F.col("event_id") % 1000).alias("coordinates"),
        ).alias("geometry"),
        F.struct(
            F.col("event_id").alias("RequestID"),
            F.col("event_type").alias("Type"),
        ).alias("properties"),
    )
    return ev.select("event_id", F.to_json(feature).alias("feature_json"))


@register(
    "json_extract",
    survey="S6 analog: parse JSON props column (main.py:175-191 reads nested JSON)",
    oracle="""
    SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object pushdown-friendly JSON field extraction over the
    string props column."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )
