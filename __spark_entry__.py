"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Everything is delegated to the engine's query catalog
(``nyc_traffic_insight_spark/queries/``), where every SURVEY.md §2
operator is registered as a (Spark builder, DuckDB oracle) pair.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nyc_traffic_insight_spark.queries import load_all  # noqa: E402
from nyc_traffic_insight_spark.session import READ_CONF  # noqa: E402


def _adopt(spark: SparkSession) -> None:
    """The driver hands in a session it built itself, not one from
    ``get_spark``; give it the confs that reading the test tables needs."""
    for k, v in READ_CONF.items():
        spark.conf.set(k, v)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001 (SURVEY.md §3.2 shape:
    scan → join → agg → per-group lag/rolling windows → sort)."""
    from nyc_traffic_insight_spark.plans.flagship import flagship_volume_features

    _adopt(spark)
    return flagship_volume_features(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, each
    run on the driver's session after ``_adopt``."""

    def adopted(builder):
        @functools.wraps(builder)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _adopt(spark)
            return builder(spark, sf_dir)

        return run

    return {name: adopted(spec.builder) for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle for every SQL-expressible query; engine-seeded or
    MLlib-internal queries are omitted → driver's rows-only check."""
    return {
        name: spec.oracle
        for name, spec in load_all().items()
        if spec.oracle is not None
    }
