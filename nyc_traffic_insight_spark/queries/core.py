"""Catalog: scans/sinks (S*), projection/cast (P*), filters (F*),
set ops (U*), sorts/limits/sampling (O*) — SURVEY.md §2.1/2.2/2.3/2.5/2.8.

Each entry: Spark builder + DuckDB oracle, textually adjacent.
Reference citations are in the survey rows named in ``survey=``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_traffic_insight_spark import schemas
from nyc_traffic_insight_spark.artifacts import process_root, remove_at_exit
from nyc_traffic_insight_spark.plans.flagship import flagship_volume_features
from nyc_traffic_insight_spark.queries import register
from nyc_traffic_insight_spark.sources import load_table
from nyc_traffic_insight_spark.sources.objectstore import load_object_store
from nyc_traffic_insight_spark.functions.rounding import exact_avg, exact_sum, r as _r

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _tmp(sf_dir: str, name: str) -> str:
    """Deterministic PER-PROCESS scratch dir for sink/rescan queries.

    Deterministic within a process so bench reps overwrite in place
    (no mkdtemp orphan accumulation); namespaced by PID so two
    concurrent processes (a bench run next to a test run) never rmtree
    each other's staging mid-read — a file-stream whose source dir
    vanishes dies with a confusing 'basePath not found'. The process
    root is removed at interpreter exit."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(process_root("ntis_scratch"), tag, name)


# --------------------------------------------------------------- flagship

register(
    "flagship_volume_features",
    survey="§3.2 pipeline shape: S1,J1,C5,A6,W1,W3,W4,O1",
    oracle="""
    WITH monthly AS (
      SELECT o.o_orderpriority AS priority,
             CAST(year(o.o_orderdate) AS INTEGER) AS yr,
             CAST(month(o.o_orderdate) AS INTEGER) AS mth,
             round(sum(l.l_quantity), 4) AS vol,
             round(CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000, 4) AS revenue,
             count(*) AS n_items
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2, 3
    )
    SELECT priority, yr, mth, vol, revenue, n_items,
           lag(vol, 1) OVER w AS vol_lag_1,
           round(avg(vol) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4)
             AS vol_roll_3,
           round(avg(vol) OVER (w ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING), 4)
             AS vol_roll_12
    FROM monthly
    WINDOW w AS (PARTITION BY priority ORDER BY yr, mth)
    """,
)(flagship_volume_features)


# ------------------------------------------------------------- §2.1 scans

@register(
    "scan_csv",
    survey="S1 scan_csv + S7 sink_csv (raw_merge.py:8-9,51)",
    oracle="SELECT * FROM lineitem",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → explicit-schema CSV scan round-trip.

    The reference reads CSV with inferred schemas (its #1 fragility);
    we always scan with a declared StructType. Doubles survive because
    Spark writes shortest-round-trip representations.
    """
    path = _tmp(sf_dir, "lineitem_csv")
    load_table(spark, sf_dir, "lineitem").write.mode("overwrite").option(
        "header", True
    ).option("timestampFormat", _TS_FMT).csv(path)
    return spark.read.csv(
        path, header=True, schema=schemas.LINEITEM, timestampFormat=_TS_FMT
    )


@register(
    "scan_object_store",
    survey="S11 remote object fetch (main.py:49-105 GCS list+download, "
    "main.py:170-176 gdown) — on Spark the fetch IS the scan: one "
    "spark.read over the store URI, no download step",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_object_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan via an explicit URI through the Hadoop FileSystem layer.

    The reference lists a GCS bucket and downloads every blob to local
    disk before reading (main.py:49-105); Spark executors instead read
    byte ranges of remote objects directly, so S11 is ``spark.read``
    over ``gs://…`` plus a connector jar + auth conf — documented in
    ``sources/objectstore.py::CONNECTOR_REQUIREMENTS``. No network in
    this sandbox, so the test path is a ``file://`` URI, which
    exercises the same scheme→FileSystem resolution and split planning
    minus the remote transport.
    """
    uri = "file://" + os.path.abspath(os.path.join(sf_dir, "nation.parquet"))
    df = load_object_store(spark, uri, fmt="parquet")
    # nanos-timestamp normalization is irrelevant for nation (no
    # timestamp columns) — column order pinned for the hash compare
    return df.select("n_nationkey", "n_name", "n_regionkey")


@register(
    "scan_csv_multifile",
    survey="S2 multi-shard scan+union (weather_merge.py:5-8); S4 chunked scan = free partitioned scan (SegmentedModeling.py:200-205)",
    oracle="SELECT * FROM orders",
)
def scan_csv_multifile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-shard CSV directory scanned as one table — the union is implicit
    in Spark's multi-file scan (vs the reference's read-7-then-concat)."""
    path = _tmp(sf_dir, "orders_shards")
    load_table(spark, sf_dir, "orders").repartition(7).write.mode("overwrite").option(
        "header", True
    ).option("timestampFormat", _TS_FMT).csv(path)
    return spark.read.csv(
        path, header=True, schema=schemas.ORDERS, timestampFormat=_TS_FMT
    )


@register(
    "scan_csv_pruned",
    survey="S3 usecols pruning (SegmentedModeling.py:198,214-217)",
    oracle="SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem",
)
def scan_csv_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan: .select after scan; Catalyst pushes the
    pruning into the CSV parser (only these columns are materialized)."""
    path = _tmp(sf_dir, "lineitem_csv")  # reuse scan_csv's sink
    load_table(spark, sf_dir, "lineitem").write.mode("overwrite").option(
        "header", True
    ).option("timestampFormat", _TS_FMT).csv(path)
    df = spark.read.csv(
        path, header=True, schema=schemas.LINEITEM, timestampFormat=_TS_FMT
    )
    return df.select("l_orderkey", "l_quantity", "l_extendedprice")


@register(
    "scan_csv_parsedates",
    survey="S5 parse-dates-at-scan + P7 (RandomForest.py:26,98-101)",
    oracle="SELECT o_orderkey, o_orderdate FROM orders",
)
def scan_csv_parsedates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference builds a '%Y-%m-%d-%H' string then parses it back
    (RandomForest.py:98-101). We round-trip the same custom format."""
    path = _tmp(sf_dir, "orders_datestr")
    (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd-HH").alias("datestr"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
    raw = spark.read.csv(path, header=True, schema="o_orderkey BIGINT, datestr STRING")
    return raw.select(
        "o_orderkey",
        F.to_timestamp("datestr", "yyyy-MM-dd-HH").alias("o_orderdate"),
    )


@register(
    "sink_idempotent",
    survey="S9 skip-if-exists sink (raw_merge.py:47-52)",
    oracle="SELECT * FROM region",
)
def sink_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mode('ignore') = the reference's os.path.exists guard; the second
    write is a no-op and the first write's content is what's read back."""
    path = _tmp(sf_dir, "region_once")
    region = load_table(spark, sf_dir, "region")
    region.write.mode("overwrite").parquet(path)
    # second write must NOT clobber (reference: skip when file exists)
    region.limit(0).write.mode("ignore").parquet(path)
    return spark.read.parquet(path)


# -------------------------------------------------- §2.2 projection / cast

@register(
    "project_drop",
    survey="P1 drop columns (raw_merge.py:14,16,18; weather_merge.py:12)",
    oracle="SELECT c_custkey, c_nationkey, c_acctbal FROM customer",
)
def project_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").drop("c_name", "c_mktsegment")


@register(
    "project_rename",
    survey="P2 rename (raw_merge.py:24; features.py:57) + P8 category cast = no-op (parquet dictionary encoding, raw_merge.py:25-26)",
    oracle="""
    SELECT c_custkey AS ID, c_name AS name, c_nationkey AS nation_key,
           c_acctbal AS balance FROM customer
    """,
)
def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .drop("c_mktsegment")
        .withColumnRenamed("c_custkey", "ID")
        .withColumnRenamed("c_name", "name")
        .withColumnRenamed("c_nationkey", "nation_key")
        .withColumnRenamed("c_acctbal", "balance")
    )


@register(
    "dedup_rows",
    survey="P3 full-row dedup (raw_merge.py:13)",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .dropDuplicates()
    )


@register(
    "cast_int",
    survey="P4 astype(int) on keys (random_forest.py:145-146)",
    # Spark double→int truncates toward zero; DuckDB CAST rounds, so the
    # oracle spells the truncation explicitly.
    oracle="""
    SELECT c_custkey, CAST(trunc(c_acctbal) AS INTEGER) AS acctbal_int
    FROM customer
    """,
)
def cast_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_acctbal").cast("int").alias("acctbal_int")
    )


@register(
    "cast_numeric_coerce",
    survey="P5 to_numeric(errors='coerce') (convert_traffic_csv_to_geojson_point.py:12)",
    oracle="""
    SELECT event_id,
           TRY_CAST(CASE WHEN event_id % 3 = 0 THEN CAST(value AS VARCHAR)
                         ELSE event_type END AS DOUBLE) AS value_coerced
    FROM events
    """,
)
def cast_numeric_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed numeric/garbage string column → double with null-on-fail
    (try_cast), the exact semantics of pandas to_numeric(coerce)."""
    ev = load_table(spark, sf_dir, "events")
    mixed = F.when(
        F.col("event_id") % 3 == 0, F.col("value").cast("string")
    ).otherwise(F.col("event_type"))
    return ev.select("event_id", mixed.try_cast("double").alias("value_coerced"))


@register(
    "cast_timestamp",
    survey="P6 string→timestamp (raw_merge.py:28) + C3 date_format (weather_merge.py:14-15)",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M') AS ts_minute,
           strptime(strftime(ts, '%Y-%m-%d %H:%M'), '%Y-%m-%d %H:%M') AS ts_parsed
    FROM events
    """,
)
def cast_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    minute_str = F.date_format("ts", "yyyy-MM-dd HH:mm")
    return ev.select(
        "event_id",
        minute_str.alias("ts_minute"),
        F.to_timestamp(minute_str, "yyyy-MM-dd HH:mm").alias("ts_parsed"),
    )


@register(
    "make_timestamp_parts",
    survey="P7 timestamp from int parts (engineer_features.py:8; RandomForest.py:98-101)",
    oracle="""
    SELECT o_orderkey,
           make_timestamp(CAST(year(o_orderdate) AS BIGINT),
                          CAST(month(o_orderdate) AS BIGINT),
                          CAST(day(o_orderdate) AS BIGINT),
                          CAST(hour(o_orderdate) AS BIGINT), 0, 0) AS ts_built
    FROM orders
    """,
)
def make_timestamp_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.make_timestamp(
            F.year("o_orderdate"),
            F.month("o_orderdate"),
            F.dayofmonth("o_orderdate"),
            F.hour("o_orderdate"),
            F.lit(0),
            F.lit(0),
        ).alias("ts_built"),
    )


# ----------------------------------------------------------- §2.3 filters

@register(
    "filter_dropna",
    survey="F1 dropna(subset) (random_forest.py:167; SegmentedModeling.py:255)",
    oracle="""
    SELECT l_orderkey, l_linenumber, nullif(l_discount, 0.0) AS discount_n
    FROM lineitem WHERE nullif(l_discount, 0.0) IS NOT NULL
    """,
)
def filter_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_discount"), F.lit(0.0)).alias("discount_n"),
    )
    return li.na.drop(subset=["discount_n"])


@register(
    "fillna",
    survey="F2 fillna constant (raw_merge.py:19)",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           coalesce(nullif(l_discount, 0.0), -1.0) AS discount_f
    FROM lineitem
    """,
)
def fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_discount"), F.lit(0.0)).alias("discount_f"),
    )
    return li.na.fill({"discount_f": -1.0})


@register(
    "filter_eq_composite",
    survey="F3 case-insensitive eq + year-of-ts eq, the /map query (main.py:183-189)",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM events
    WHERE lower(event_type) = 'click' AND CAST(year(ts) AS INTEGER) = 2024
    """,
)
def filter_eq_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.lower("event_type") == "click") & (F.year("ts") == 2024)
    ).select("event_id", "ts", "user_id", "event_type", "value")


@register(
    "filter_bool_mask",
    survey="F4 event mask is_holiday|heavy_snow (SegmentedModeling.py:67-71)",
    oracle="""
    WITH flagged AS (
      SELECT event_id, value,
             CAST(event_type = 'error' AS INTEGER) AS is_error,
             CAST(value > 90 AS INTEGER) AS is_heavy
      FROM events
    )
    SELECT * FROM flagged WHERE is_error = 1 OR is_heavy = 1
    """,
)
def filter_bool_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        (F.col("event_type") == "error").cast("int").alias("is_error"),
        (F.col("value") > 90).cast("int").alias("is_heavy"),
    )
    return ev.filter((F.col("is_error") == 1) | (F.col("is_heavy") == 1))


@register(
    "filter_gt",
    survey="F5 positive-volume mask (SegmentedModeling.py:122)",
    oracle="SELECT event_id, value FROM events WHERE value > 0",
)
def filter_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "value")
        .filter(F.col("value") > 0)
    )


@register(
    "filter_threshold_flag",
    survey="F6 heavy_snow=(depth>5) as 0/1 (SegmentedModeling.py:237)",
    oracle="""
    SELECT event_id, CAST(value > 50 AS INTEGER) AS heavy FROM events
    """,
)
def filter_threshold_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("value") > 50).cast("int").alias("heavy")
    )


@register(
    "filter_malformed_skip",
    survey="F7 try/except per-row parse skip (main.py:186-191)",
    oracle="""
    WITH parsed AS (
      SELECT event_id,
             TRY_CAST(CASE WHEN event_id % 7 = 0 THEN event_type
                           ELSE CAST(value AS VARCHAR) END AS DOUBLE) AS v
      FROM events
    )
    SELECT event_id, v FROM parsed WHERE v IS NOT NULL
    """,
)
def filter_malformed_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative form of the reference's try/except row skip: try_cast
    then filter-not-null (PERMISSIVE-mode semantics)."""
    ev = load_table(spark, sf_dir, "events")
    mixed = F.when(F.col("event_id") % 7 == 0, F.col("event_type")).otherwise(
        F.col("value").cast("string")
    )
    return ev.select("event_id", mixed.try_cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )


# ------------------------------------------------------------ §2.5 setops

@register(
    "union_all_shards",
    survey="U1 concat 7 shards (weather_merge.py:23)",
    oracle="SELECT * FROM events",
)
def union_all_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard → unionByName, the reference's pd.concat of weather shards.
    On a cluster this is a zero-shuffle union of scans."""
    from functools import reduce

    ev = load_table(spark, sf_dir, "events")
    shards = [ev.filter(F.col("event_id") % 7 == i) for i in range(7)]
    return reduce(DataFrame.unionByName, shards)


@register(
    "union_oversample",
    survey="U2 oversample minority ×5 (SegmentedModeling.py:81-86)",
    oracle="""
    SELECT event_id, event_type, value FROM events
    UNION ALL
    SELECT event_id, event_type, value
    FROM events, range(4) WHERE event_type = 'error'
    """,
)
def union_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicate minority-class rows ×5 via explode(array_repeat) — the
    distributed form of the reference's pd.concat([ev]*5); no driver
    materialization, scales to any row count."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    n = F.when(F.col("event_type") == "error", 5).otherwise(1)
    return (
        ev.withColumn("__dup", F.explode(F.array_repeat(F.lit(1), n)))
        .drop("__dup")
    )


@register(
    "except_rows",
    survey="§2.5 note: exceptAll one-liner (no reference analog, Spark-free)",
    oracle="""
    SELECT event_id, event_type FROM events
    EXCEPT
    SELECT event_id, event_type FROM events WHERE event_type = 'error'
    """,
)
def except_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    return ev.exceptAll(ev.filter(F.col("event_type") == "error"))


@register(
    "intersect_rows",
    survey="§2.5 note: intersect one-liner (no reference analog, Spark-free)",
    oracle="""
    SELECT event_id, event_type FROM events WHERE value > 50
    INTERSECT
    SELECT event_id, event_type FROM events WHERE event_type <> 'error'
    """,
)
def intersect_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    hi = ev.filter(F.col("value") > 50).select("event_id", "event_type")
    ok = ev.filter(F.col("event_type") != "error").select("event_id", "event_type")
    return hi.intersect(ok)


@register(
    "unpivot_measures",
    survey="A7 inverse: unpivot/melt wide measures to long form "
    "(the undo of the one-hot pivot; df.unpivot built-in)",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, round(val, 4) AS val
    FROM (
      UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity AS quantity,
                      l_discount AS discount, l_tax AS tax
               FROM lineitem WHERE l_orderkey < 100)
      ON quantity, discount, tax
      INTO NAME measure VALUE val
    )
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long: the built-in unpivot (melt) turns measure columns
    into (name, value) rows — a narrow 3× row map, no shuffle; the
    exact inverse of the pivot that built the one-hot table."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    out = li.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax").unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure_raw",
        "val_raw",
    )
    measure = F.expr("substring(measure_raw, 3)")  # l_quantity → quantity
    return out.select(
        "l_orderkey",
        "l_linenumber",
        measure.alias("measure"),
        _r("val_raw", 4).alias("val"),
    )


# ------------------------------------------- §2.8 sorts / limits / samples

@register(
    "sort_time",
    survey="O1 global time sort (SegmentedModeling.py:224)",
    oracle="""
    SELECT event_id, ts, event_type FROM events
    ORDER BY ts, event_id LIMIT 500
    """,
)
def sort_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit. Catalyst turns orderBy+limit into TakeOrdered
    (per-partition top-k then merge) — no full global sort is executed,
    which is the scalable form of the reference's df.sort_values()."""
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type")
        .orderBy("ts", "event_id")
        .limit(500)
    )


@register(
    "limit_head",
    survey="O3 head-N downsize (scripts/downsize.py:14)",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    ORDER BY l_orderkey, l_linenumber LIMIT 1000
    """,
)
def limit_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(1000)
    )


@register(
    "sample_shuffle",
    survey="O4 seeded full shuffle (SegmentedModeling.py:86)",
    # A full shuffle is a permutation: order-insensitively it IS the table.
    oracle="SELECT event_id, user_id, value FROM events",
)
def sample_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .orderBy(F.rand(42))
    )


@register(
    "split_random",
    survey="O5+M5 seeded random split (LinearRegression.py:45-51). "
    "Oracled as an audit (r7): exact input cardinality + exhaustive/"
    "disjoint/fraction booleans; row membership stays engine-seeded",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           TRUE AS split_exhaustive, TRUE AS splits_disjoint,
           TRUE AS test_frac_ok
    FROM events
    """,
)
def split_random(spark: SparkSession, sf_dir: str) -> DataFrame:
    """randomSplit([0.85, 0.15], seed=62) audit. WHICH rows land in
    the test split is a per-row Bernoulli draw (deterministic per
    seed + partition layout) that no oracle can reproduce — but the
    split CONTRACT is hash-checkable: train and test partition the
    exact input (the oracle recomputes the total), share no event_id,
    and the test share lands near 0.15 (±0.03 — a seeded Bernoulli at
    n≥10⁴ is well inside this; a wrong weights list is not)."""
    train, test = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .randomSplit([0.85, 0.15], seed=62)
    )
    n_train, n_test = train.count(), test.count()
    n_total = load_table(spark, sf_dir, "events").count()
    n_overlap = train.select("event_id").join(
        test.select("event_id"), "event_id"
    ).count()
    return spark.createDataFrame(
        [
            (
                n_total,
                n_train + n_test == n_total,
                n_overlap == 0,
                abs(n_test / n_total - 0.15) <= 0.03,
            )
        ],
        "n_total bigint, split_exhaustive boolean, splits_disjoint boolean, "
        "test_frac_ok boolean",
    )


@register(
    "scan_jsonl_roundtrip",
    survey="S1/S7 family extension: JSON-Lines sink + source round-trip "
    "(the interchange format LLM corpora actually ship as)",
    oracle="""
    SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def scan_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the documents table as JSON-Lines, read it back with an
    explicit schema, return the rows — sink and source in one contract
    (the value-hash oracle proves byte-faithful text round-tripping,
    including JSON string escaping).

    Scale notes: JSONL is line-splittable, so the read parallelizes like
    CSV (each task scans a byte range to the next newline); the explicit
    schema skips the whole-file inference pass Spark would otherwise
    run. Compression at scale would be per-file zstd, which trades away
    intra-file splits — shard count becomes the parallelism bound."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    docs = load_table(spark, sf_dir, "documents")
    # deterministic scratch path (not mkdtemp): repeated bench/test runs
    # overwrite in place instead of accumulating orphaned copies
    out = _tmp(sf_dir, "documents_jsonl")
    docs.write.mode("overwrite").json(out)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    return spark.read.schema(schema).json(out).select(
        "doc_id", "text", "lang", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )


@register(
    "scan_jsonl_malformed_skip",
    survey="F7/S-family extension: PERMISSIVE JSONL scan — malformed "
    "lines quarantined to _corrupt_record, valid rows survive",
    oracle="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents WHERE doc_id % 10 <> 3
    """,
)
def scan_jsonl_malformed_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant JSONL ingest: every doc_id % 10 == 3 line is
    deliberately truncated mid-record before the read; PERMISSIVE mode
    (Spark's default) routes those lines into the corrupt-record column
    instead of failing the scan, and the query keeps the clean rows —
    the JSON analog of the reference's try/except row skip and of F7's
    try_cast CSV form.

    Scale note: corruption handling is per-line and per-task — a broken
    shard never poisons the job, and the corrupt column can be routed to
    a quarantine sink for audit. The oracle pins EXACTLY which rows
    survive (value-hash, not just a count)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    good = F.to_json(F.struct("doc_id", "lang", "n_chars"))
    # truncate every 10th record mid-JSON → guaranteed-invalid line
    line = F.when(
        F.col("doc_id") % 10 == 3, F.substring(good, 1, 12)
    ).otherwise(good)
    out = _tmp(sf_dir, "documents_badjsonl")  # deterministic: overwritten per run
    docs.select(line.alias("value")).write.mode("overwrite").text(out)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("n_chars", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    parsed = spark.read.schema(schema).option("mode", "PERMISSIVE").json(out)
    return (
        parsed.filter(F.col("_corrupt_record").isNull())
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "sink_merge_upsert",
    survey="S-family extension: MERGE INTO semantics (upsert a change "
    "batch into a keyed table) — the write pattern every incremental "
    "pipeline needs and plain parquet lacks; expressed engine-side as "
    "the full-outer-join MERGE equivalent",
    oracle="""
    WITH target AS (
      SELECT o_orderkey AS k, o_totalprice AS price FROM orders
    ),
    updates AS (
      SELECT o_orderkey AS k, o_totalprice * 1.1 AS price
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey + (SELECT max(o_orderkey) FROM orders) AS k,
             o_totalprice AS price
      FROM orders WHERE o_orderkey % 50 = 0
    )
    SELECT coalesce(t.k, u.k) AS o_orderkey,
           round(coalesce(u.price, t.price), 4) AS o_totalprice,
           CASE WHEN t.k IS NULL THEN 'insert'
                WHEN u.k IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM target t FULL OUTER JOIN updates u ON t.k = u.k
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO target USING updates: matched keys take the update's
    value, unmatched update keys insert, untouched target rows keep.
    The change batch is derived deterministically from the table itself
    (every 5th key updated with a 10% price bump, every 50th key
    re-keyed past the max as an insert) so the oracle can reproduce it.

    Scale shape: one full outer join on the key — shuffle-partitioned
    on both sides, or a broadcast join when the change batch is small
    (the common case; Spark picks it from stats). This is exactly the
    join Delta/Iceberg MERGE executes under the hood; expressing it as
    a query makes the semantics testable without a table format."""
    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price")
    )
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    updates = (
        orders.filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            (F.col("o_totalprice") * 1.1).alias("price"),
        )
        .unionAll(
            orders.filter(F.col("o_orderkey") % 50 == 0).select(
                (F.col("o_orderkey") + F.lit(max_key)).alias("k"),
                F.col("o_totalprice").alias("price"),
            )
        )
    )
    t, u = target.alias("t"), updates.alias("u")
    merged = t.join(u, F.col("t.k") == F.col("u.k"), "full_outer")
    return merged.select(
        F.coalesce(F.col("t.k"), F.col("u.k")).alias("o_orderkey"),
        _r(F.coalesce(F.col("u.price"), F.col("t.price")), 4).alias(
            "o_totalprice"
        ),
        F.when(F.col("t.k").isNull(), "insert")
        .when(F.col("u.k").isNull(), "keep")
        .otherwise("update")
        .alias("merge_action"),
    )


@register(
    "qa_snapshot_diff",
    survey="north-star QA tier: change-data-capture diff between two "
    "table snapshots (added / removed / changed / unchanged, with "
    "value deltas) — the audit a daily-refreshed corpus runs before "
    "publishing",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey AS k, o_totalprice AS price FROM orders
      WHERE o_orderkey % 13 <> 0
    ),
    v2 AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.05
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 11 <> 0
    )
    SELECT CASE WHEN v1.k IS NULL THEN 'added'
                WHEN v2.k IS NULL THEN 'removed'
                WHEN v1.price <> v2.price THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(round(
                   (coalesce(v2.price, 0) - coalesce(v1.price, 0)) * 10000)
                 AS BIGINT)) AS DOUBLE) / 10000, 4) AS price_delta
    FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    GROUP BY 1
    """,
)
def qa_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot CDC report: full outer join on the key,
    classify each row added/removed/changed/unchanged, aggregate counts
    and the net value drift per class. The two snapshots are carved
    deterministically from the same table (v1 drops keys %13=0 — those
    are 'added' in v2; v2 drops %11=0 — 'removed' — and bumps %7=0 —
    'changed') so the oracle reproduces them exactly.

    Scale shape: ONE full outer join on the key and a 4-group
    aggregate; both snapshots shuffle once on the same key so AQE
    co-partitions them. The float equality in 'changed' is safe here
    because both engines compute the bump with the same double
    arithmetic on identical inputs — for production data you'd diff a
    content hash instead (see dedup_exact)."""
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price")
    )
    v2 = orders.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.05
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    a, b = v1.alias("a"), v2.alias("b")
    diff = a.join(b, F.col("a.k") == F.col("b.k"), "full_outer")
    status = (
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .when(F.col("a.price") != F.col("b.price"), "changed")
        .otherwise("unchanged")
    )
    return diff.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        # per-row delta is 4dp-exact (2dp price, ×1.05 adds 2dp):
        # sum as exact ten-thousandths so the class totals can't flip
        # the rounding boundary with accumulation order
        _r(
            exact_sum(
                F.coalesce(F.col("b.price"), F.lit(0.0))
                - F.coalesce(F.col("a.price"), F.lit(0.0)),
                4,
            ),
            4,
        ).alias("price_delta"),
    )


@register(
    "layout_compact_files",
    survey="S/layout-family extension: small-file compaction — rewrite "
    "a 64-fragment dataset into size-targeted files and prove content "
    "preservation (the daily maintenance job every streaming sink "
    "needs; the ingest path of enrich_weather.py appends exactly such "
    "fragments)",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids
    FROM events GROUP BY 1
    """,
)
def layout_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the events table as 64 deliberately-tiny parquet files
    (what a micro-batching sink leaves behind), then compact: size the
    output file count from the actual input bytes against a target
    file size and rewrite. The returned per-type counts come from
    RE-SCANNING the compacted output, so the oracle (the same counts
    off the original table) hash-proves the rewrite lost and invented
    nothing — the only acceptance test a compaction job needs.

    Scale shape: compaction is one repartition(n_out) — a shuffle
    whose width is chosen from bytes, not row counts, so output files
    land near the target size regardless of schema width. At 100 TB
    this runs per-partition-directory (compact yesterday's directory,
    not the table); the 128 MiB default target matches
    spark.sql.files.maxPartitionBytes so ONE output file feeds ONE
    scan task downstream. The 1 MiB target here only keeps the
    fixture's output multi-file so tests/test_partitioning.py can pin
    the before/after file counts."""
    import os

    ev = load_table(spark, sf_dir, "events")
    base = _tmp(sf_dir, "compact_events")
    frag_dir = os.path.join(base, "fragments")
    out_dir = os.path.join(base, "compacted")
    ev.repartition(64).write.mode("overwrite").parquet(frag_dir)

    def _bytes(d: str) -> int:
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    target = 1 * 1024 * 1024  # test-scale target; production: 128 MiB
    n_out = max(1, -(-_bytes(frag_dir) // target))
    frags = spark.read.parquet(frag_dir)
    frags.repartition(n_out).write.mode("overwrite").parquet(out_dir)
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_id").alias("n_ids"),
        )
    )


@register(
    "layout_bucketed_join",
    survey="layout-family extension: bucketed CTAS + exchange-free "
    "join — both fact tables pre-hashed into 8 buckets on the join "
    "key, so the join reads co-located buckets with NO shuffle "
    "(tests/test_bucketing.py pins the Exchange-free plan)",
    oracle="""
    -- net is 4dp-exact decimal: sum as integer ten-thousandths so the
    -- ~6e9 per-priority totals are accumulation-order-free (latent at
    -- sf0.01, reproduced at sf0.1 in the r7 sweep)
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(CAST(round(
                   l.l_extendedprice * (1 - l.l_discount) * 10000)
                 AS BIGINT)) AS DOUBLE) / 10000, 4) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders and lineitem as bucketed catalog tables (8 buckets
    on the order key), then join the bucketed copies: Spark's scan
    reports the bucket layout and the join planner skips BOTH
    exchanges — at 100 TB this converts the nightly fact-to-fact join
    from the cluster's biggest shuffle into a metadata decision, which
    is exactly why warehouses bucket their largest tables. The result
    aggregate hash-matches the plain-table oracle, proving layout
    changed nothing about content.

    The staged tables are per-(sf, pid) named, overwritten in place on
    rerun — same idempotence contract as the scratch-dir sinks; this
    process's warehouse directories are removed at interpreter exit
    (the catalog itself is in-memory), so runs don't accumulate
    orphaned table data on disk."""
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    suffix = f"{tag}_{os.getpid()}"
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.removeprefix("file:")
    for t in (f"orders_bkt_{suffix}", f"lineitem_bkt_{suffix}"):
        remove_at_exit(os.path.join(wh, t))
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(f"orders_bkt_{suffix}")
    )
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(f"lineitem_bkt_{suffix}")
    )
    ob = spark.table(f"orders_bkt_{suffix}")
    lb = spark.table(f"lineitem_bkt_{suffix}")
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _r(
                exact_sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                ),
                4,
            ).alias("revenue"),
        )
    )


@register(
    "layout_partition_pruning",
    survey="layout-family extension: hive-partitioned sink + pruned "
    "scan — a day-filtered read of a day-partitioned dataset touches "
    "ONE directory (the serving layout SURVEY §3.3 prescribes for the "
    "reference's per-request GeoJSON re-parse)",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100, 4) AS total
    FROM events
    WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') = '2024-01-05'
    GROUP BY 1
    """,
)
def layout_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage events hive-partitioned by day, then answer a one-day
    question from the partitioned copy: the day predicate becomes a
    PartitionFilter — directory pruning, zero data files of any other
    day opened (tests/test_partitioning.py pins PartitionFilters in
    the plan). The aggregate hash-matches the oracle computed from the
    UNPARTITIONED table, proving the layout round-trip is lossless.

    At 100 TB, day-partitioning is the difference between scanning
    36 TB and 100 GB for a daily report; the write side is the same
    write_partitioned every ingest job should end with."""
    from nyc_traffic_insight_spark.sources.catalog import write_partitioned

    ev = load_table(spark, sf_dir, "events")
    path = _tmp(sf_dir, "events_by_day")
    staged = ev.withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    write_partitioned(staged, path, "day")
    return (
        spark.read.parquet(path)
        .filter(F.col("day") == "2024-01-05")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(exact_sum("value"), 4).alias("total"),
        )
    )


@register(
    "scan_orc_roundtrip",
    survey="S-family extension: ORC sink + scan round-trip — the other "
    "columnar format Spark bundles; parity with the parquet/CSV/JSONL "
    "round-trips so a reference user can land on whichever format "
    "their warehouse dictates",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders as ORC, scan it back: types (including the
    microsecond timestamp) survive the round-trip bit-for-bit, proven
    by hashing the re-scan against the source table. ORC gets the same
    predicate-pushdown/column-pruning treatment as parquet from
    Spark's reader, so catalog queries are format-portable.

    Scale shape: a straight columnar rewrite — the same narrow
    pass as sink_idempotent, no shuffle."""
    path = _tmp(sf_dir, "orders_orc")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").orc(path)
    return spark.read.orc(path).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
