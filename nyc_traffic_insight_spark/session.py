"""SparkSession builder tuned for the engine.

Local testing runs on ``local[N]`` but every setting here is chosen to be
the right default on a large cluster too:

- AQE on (runtime re-plan: broadcast promotion, skew-join splitting,
  partition coalescing) — replaces every hand-tuned knob the reference
  uses (chunk sizes, usecols; SURVEY.md §4).
- shuffle partitions sized for the test scale; AQE coalesces down so a
  too-high number is cheap, and on a real cluster this would be
  ~2–3× total cores.
- Arrow enabled so the few Pandas-UDF paths (CRS reprojection,
  multimodal decode) batch-transfer instead of pickling rows.

It is also the one seam for state shared within a session:
``materialize`` (the single way to cut a lineage) and
``session_cached`` / ``clear_session_caches`` (the single registry of
per-session builds).
"""

from __future__ import annotations

import os
from typing import Any, Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = os.environ.get(
    "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
)
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))


# A quarter of the host's memory, uncapped: a small heap on a large host
# brings GC storms late in long sessions, a fixed large one is OOM-killed
# on a small host once a second session runs beside it.
DEFAULT_DRIVER_MEMORY = (
    os.environ.get("SPARK_DRIVER_MEMORY") or f"{_mem_total_kb() // 1024 // 4}m"
)


# What reading the test tables needs: the testdata stores events.ts as
# TIMESTAMP(NANOS), read as long and floor-converted by load_table;
# naive parquet timestamps read as TimestampType (not NTZ) so the
# declared schemas apply; and naive storage ↔ LTZ semantics line up
# only in UTC (DuckDB reads the same files as naive wall time).
READ_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "nyc-traffic-insight-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``extra_conf`` overrides (applied last) let callers flip
    session-construction-time settings — bench.py turns the UI back on
    to read executor metrics from the status REST API.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{DEFAULT_CPUS}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", DEFAULT_DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in {**READ_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and cut its lineage, for a result that several
    consumers (or loop iterations) reuse.

    Reliable ``checkpoint()`` when the session has a checkpoint dir
    configured (the cluster profile: survives executor loss, required at
    100 TB where a reused input must be re-readable); otherwise
    ``localCheckpoint()`` — executor-loss-unsafe but zero-config, the
    right trade on local[*] where executors and driver share one JVM.
    Runs in the caller's job group, so its jobs count toward the
    caller's build."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


_HELD: dict[tuple, Any] = {}


def _dropped(value: Any) -> bool:
    # read the storage level, not ``is_cached``: after
    # ``catalog.clearCache()`` the Python flag still reads True while
    # the CacheManager holds nothing for the plan
    if not isinstance(value, DataFrame):
        return False
    lvl = value.storageLevel
    return not (lvl.useMemory or lvl.useDisk)


def session_cached(
    spark: SparkSession, key: tuple[Hashable, ...], build: Callable[[], Any]
) -> Any:
    """``build()`` once per (application, *key); later calls return the
    same object, so every consumer's plan reads the one persisted
    relation (``InMemoryTableScan``) or reuses the one driver-side value.

    Keyed by ``applicationId`` so a restarted session never sees another
    session's (invalid) DataFrame; entries from stopped sessions hold
    only an unreferenceable plan object, no executor state.  A held
    DataFrame must be persisted by ``build``; if its storage was dropped
    behind the registry's back (``catalog.clearCache()``) it is rebuilt
    rather than returned as a silently uncached plan."""
    k = (spark.sparkContext.applicationId, *key)
    value = _HELD.get(k)
    if value is None or _dropped(value):
        value = _HELD[k] = build()
    return value


def clear_session_caches(spark: SparkSession | None = None) -> int:
    """Drop every registry entry (only ``spark``'s application's when
    given), unpersisting held DataFrames; returns the number dropped."""
    app = spark.sparkContext.applicationId if spark is not None else None
    dropped = 0
    for k in [k for k in _HELD if app is None or k[0] == app]:
        value = _HELD.pop(k)
        if isinstance(value, DataFrame):
            try:
                value.unpersist(blocking=True)
            except Exception:  # noqa: BLE001 - session already stopped
                pass
        dropped += 1
    return dropped
