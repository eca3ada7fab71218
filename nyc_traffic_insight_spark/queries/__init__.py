"""Driver-facing query catalog.

Every operator from SURVEY.md §2 (plus the north-star large-scale
training-data operators) is registered here as a ``QuerySpec``:
a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame`` and, when the
semantics are ANSI-SQL-expressible, the equivalent DuckDB oracle SQL run
against the same parquet tables. The driver hash-compares the two at
sf=0.01 — that is the correctness gate, so the two sides of each spec are
kept textually adjacent in the defining module.

Conventions (hash-compare survival rules):
- every computed / aggregate column is aliased to the SAME name on both
  sides;
- every floating-point column whose value depends on accumulation order
  (sums, averages, products of many rows) is ``round(x, 4)``-ed on both
  sides — Spark and DuckDB sum partitions in different orders, and a raw
  double hash would flap;
- integer sums are cast to BIGINT on both sides (DuckDB widens to
  HUGEINT, Spark to BIGINT);
- queries whose raw numbers no SQL engine can recompute (MLlib
  internals, engine-seeded randomness, digest centroids) emit a
  CONTRACT AUDIT instead: exact SQL-recomputable cardinalities plus
  booleans the oracle pins TRUE — as of r7 every registered query
  carries a value oracle.

Conventions (session state): builders hand frames to SQL as
``spark.sql(text, name=frame)`` with ``{name}`` in the text (PySpark
registers each frame under a uuid view name and drops it once the
query is analyzed; a literal brace in such a text is doubled). They
register no temp view and set no session conf: the confs reading the
test tables needs come from ``session.get_spark``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    # DuckDB SQL text, a zero-arg callable rendered to text inside
    # load_all() (lazy oracle), or None → rows-only check. Consumers
    # reading REGISTRY[...].oracle BEFORE load_all() may see the
    # un-rendered callable.
    oracle: str | Callable[[], str] | None
    survey: str  # SURVEY.md §2 row id(s) this query covers


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | Callable[[], str] | None = None,
    survey: str = "",
):
    """Decorator: add a query to the catalog.

    ``oracle`` is the DuckDB SQL text, ``None`` (rows-only check), or
    a ZERO-ARG CALLABLE returning the text. The callable form renders
    LAZILY in ``load_all()`` after every catalog module has imported —
    use it whenever the oracle text interpolates a constant defined
    later in the module or composes another module's fragments
    (eager rendering there forces fragile placement workarounds:
    the r13 review found a register call exiled 2,400 lines from its
    builder and a comment-enforced section ordering, both of which
    this mechanism removes)."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name=name, builder=fn, oracle=oracle, survey=survey)
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every catalog module (side effect: fills REGISTRY), then
    reorder it into the check rotation (``rotation.order``).

    REGISTRY is insertion-ordered and the driver's correctness gate
    walks it front-to-back with a ~50-query budget, so front placement
    decides what gets re-verified.
    """
    from nyc_traffic_insight_spark.queries import (  # noqa: F401
        windows,
        joins,
        scalars,
        textops,
        tokenizers,
        embcurate,  # D4 curation tier (registered since the r12 promotion)
        streamingq,
        multimodalq,
        samplingq,
        mlq,
        geoq,
        aggregates,
        behaviorq,
        core,
    )

    # render lazy (callable) oracles now — every module is imported,
    # so cross-module fragments and late-defined constants resolve
    for n, s in list(REGISTRY.items()):
        if callable(s.oracle):
            REGISTRY[n] = replace(s, oracle=s.oracle())

    from nyc_traffic_insight_spark.queries import rotation

    specs = {n: REGISTRY[n] for n in rotation.order(REGISTRY)}
    REGISTRY.clear()
    REGISTRY.update(specs)
    return REGISTRY
