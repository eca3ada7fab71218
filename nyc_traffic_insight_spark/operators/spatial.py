"""Nearest-edge spatial join: cell-bucketed candidates with an
import-gated Apache Sedona distance backend.

Reference semantics: scripts/point_to_linestring.py:54-65 snaps each
point to its nearest OSM edge (a road LINESTRING) via osmnx. This
operator re-expresses that as a scale-safe DataFrame plan:

1. each segment is replicated into every grid cell its bounding box
   overlaps plus a one-cell margin (cell size = the snap tolerance, so
   the candidate set provably contains the true nearest segment within
   tolerance — see ``queries/joins.py:join_nearest_edge`` for the
   argument);
2. points join on their single cell (equi-join; the segment side is
   broadcast when it is dimension-sized);
3. point-to-segment distance + per-point argmin.

Step 3 has two backends, chosen by ``backend="auto"``:

- ``builtin`` (always available): closed-form perpendicular-projection
  distance as JVM expressions — whole-stage-codegen'd, engine-portable
  float64 math, bit-identical to the DuckDB oracle formula.
- ``sedona`` (import-gated, like operators/multimodal.py's real
  decoder): ``ST_Distance(ST_Point, ST_MakeLine)`` when the Apache
  Sedona package AND its jars are on the session. Same candidate plan;
  only the distance expression changes. Sedona is not in this
  container, so ``auto`` resolves to ``builtin`` here; the agreement
  test in tests/test_geo.py auto-skips without it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.session import session_cached


def sedona_enabled(spark: SparkSession) -> bool:
    """True iff Apache Sedona is importable AND registers on THIS
    session (needs both the Python package and the JVM jars). Probed
    once per session: a process can run several sessions with
    different jar sets, so a global flag would leak one session's
    capability onto the next."""

    def probe() -> bool:
        try:
            from sedona.spark import SedonaContext  # noqa: PLC0415

            SedonaContext.create(spark)
            spark.sql("SELECT ST_Point(0.0, 0.0)").collect()
            return True
        except Exception:  # ImportError or missing jars — fall back
            return False

    return session_cached(spark, ("sedona",), probe)


def _builtin_dist2() -> F.Column:
    """Squared point-to-segment distance, projection t clamped to the
    segment body; den==0 degenerates to point distance."""
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    den = dx * dx + dy * dy
    t_raw = (
        (F.col("px") - F.col("x1")) * dx + (F.col("py") - F.col("y1")) * dy
    ) / den
    t = F.when(den == 0, F.lit(0.0)).otherwise(
        F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    )
    ex = F.col("px") - (F.col("x1") + t * dx)
    ey = F.col("py") - (F.col("y1") + t * dy)
    return ex * ex + ey * ey


def _sedona_dist2() -> F.Column:
    d = F.expr(
        "ST_Distance(ST_Point(px, py), "
        "ST_MakeLine(ST_Point(x1, y1), ST_Point(x2, y2)))"
    )
    return d * d


def nearest_edge_join(
    points: DataFrame,
    segments: DataFrame,
    tolerance: float,
    *,
    backend: str = "auto",
    broadcast_segments: bool = True,
) -> DataFrame:
    """Snap each point to its nearest segment within ``tolerance``.

    ``points``: columns ``point_id, px, py``. ``segments``: columns
    ``seg_id, x1, y1, x2, y2``. Returns ``point_id, seg_id, dist2``
    (squared distance), one row per matched point, ties broken by
    ``seg_id``.

    ``backend``: ``builtin`` | ``sedona`` | ``auto`` (sedona when the
    session has it, else builtin). ``broadcast_segments`` should stay
    True for dimension-sized segment tables (road graphs are ~10⁷
    edges ≈ low-GB replicated — still broadcastable on real clusters);
    set False to shuffle-join cell keys when the segment side is huge.
    """
    if backend not in ("auto", "builtin", "sedona"):
        raise ValueError(f"unknown backend {backend!r}")
    if backend == "auto":
        backend = (
            "sedona" if sedona_enabled(points.sparkSession) else "builtin"
        )
    if backend == "sedona" and not sedona_enabled(points.sparkSession):
        raise RuntimeError("sedona backend requested but not available")

    g = float(tolerance)
    cxs = F.sequence(
        F.floor(F.least("x1", "x2") / g).cast("long") - 1,
        F.floor(F.greatest("x1", "x2") / g).cast("long") + 1,
    )
    cys = F.sequence(
        F.floor(F.least("y1", "y2") / g).cast("long") - 1,
        F.floor(F.greatest("y1", "y2") / g).cast("long") + 1,
    )
    seg_cells = segments.withColumn("cx", F.explode(cxs)).withColumn(
        "cy", F.explode(cys)
    )
    if broadcast_segments:
        seg_cells = F.broadcast(seg_cells)
    cand = points.select(
        "point_id",
        "px",
        "py",
        F.floor(F.col("px") / g).cast("long").alias("cx"),
        F.floor(F.col("py") / g).cast("long").alias("cy"),
    ).join(seg_cells, ["cx", "cy"])

    dist2 = _sedona_dist2() if backend == "sedona" else _builtin_dist2()
    w = Window.partitionBy("point_id").orderBy("dist2", "seg_id")
    return (
        cand.withColumn("dist2", dist2)
        .filter(F.col("dist2") <= F.lit(g * g))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("point_id", "seg_id", "dist2")
    )
