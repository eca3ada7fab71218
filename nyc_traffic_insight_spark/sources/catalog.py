"""Table catalog over the driver's parquet test tables.

Parquet scans are the engine's canonical source: columnar projection +
predicate pushdown + partition pruning come free from the DataSource V2
path, which is exactly what the reference hand-rolls with ``usecols`` and
chunked reads (SURVEY.md §4). At 100 TB these tables would be
partitioned (e.g. orders by month of o_orderdate) and the same
``spark.read.parquet`` call prunes partitions from the WHERE clause.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType

from nyc_traffic_insight_spark.schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table. S1-equivalent (SURVEY §2.1) over parquet.

    Some tables store TIMESTAMP(NANOS) (events.ts), which Spark's
    parquet reader rejects; we read nanos as long and floor-convert to
    microsecond timestamps — the same truncation DuckDB applies, so the
    oracle sees identical values. Integer division (no doubles: epoch
    nanos ≈ 1.7e18 overflows a double's 53-bit mantissa). The session
    must carry ``session.READ_CONF``, as every ``get_spark`` session does.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TESTDATA_TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    expected = TESTDATA_SCHEMAS[name]
    actual = {f.name: f.dataType for f in df.schema.fields}
    for field in expected.fields:
        if isinstance(field.dataType, TimestampType) and isinstance(
            actual.get(field.name), LongType
        ):
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def parquet_row_groups(sf_dir: str, name: str) -> int | None:
    """Total row groups across the table's parquet files, from footer
    metadata (a cheap local read — the footer is the last few KB). A row
    group is the atomic split unit for parquet, so this is the true
    upper bound on scan parallelism regardless of maxPartitionBytes.
    Returns None when the path isn't locally inspectable (non-local
    filesystem) — callers then assume the cluster case (scan already
    wide)."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            files = [
                os.path.join(root, fn)
                for root, _, fns in os.walk(path)
                for fn in fns
                if fn.endswith(".parquet")
            ]
        else:
            files = [path]
        return sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    except Exception:  # noqa: BLE001 - non-local path / unreadable footer
        return None


def load_table_wide(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *keys: str,
    columns: tuple[str, ...] | None = None,
) -> DataFrame:
    """``load_table`` + a GATED widening repartition, no persist.

    When the parquet footer shows fewer row groups than the session's
    parallelism (the single-row-group local fixture), the scan cannot
    parallelize and every downstream partial aggregate runs on one
    core; this repartitions once — BY the given keys so a following
    groupBy/window on those keys needs no second exchange, round-robin
    otherwise. On a real cluster the row-group count dwarfs the core
    count and this is a plain scan: the gate never fires, so no query
    pays an extra full-fact shuffle at 100 TB (the r3 lesson that
    produced textops' _wide_table; this variant skips that helper's
    persist for fact tables whose bench timings must keep paying the
    scan).

    Pass ``columns`` to project BEFORE the widening exchange: Catalyst
    does not push projections below a user Repartition, so without it
    the exchange ships every column of the table (measured 18.7 MB vs
    ~2 MB for copurchase's two-column projection at 0.1 SF)."""
    df = load_table(spark, sf_dir, name)
    if columns is not None:
        df = df.select(*columns)
    para = spark.sparkContext.defaultParallelism
    rg = parquet_row_groups(sf_dir, name)
    if rg is not None and rg < para:
        df = (
            df.repartition(para, *[F.col(k) for k in keys])
            if keys
            else df.repartition(para)
        )
    return df


def write_partitioned(
    df: DataFrame, path: str, *partition_cols: str, mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet layout — the serving-side design
    from SURVEY §3.3: the reference's /map endpoint re-parses a 515 MB
    GeoJSON per request; laid out as parquet partitioned by
    (Borough, year) the same filter becomes directory pruning and the
    scan touches one partition. Reads need no special API — WHERE
    clauses on partition columns turn into PartitionFilters
    (tests/test_partitioning.py pins this)."""
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)
