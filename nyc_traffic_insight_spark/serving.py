"""Serving layer: the reference's FastAPI endpoints, engine-side.

The reference serves three endpoints (``main.py``):

- ``GET /map?borough&year`` (main.py:200-248): downloads a 515 MB
  GeoJSON per request, json.load's it, filters features in a Python
  loop, renders folium. Here: the features live as hive-partitioned
  parquet (Borough, year) and the same request is a partition-pruned
  scan plus the C13 color binning — no full-file parse, no download.
- ``POST /predict?model=`` (main.py:278-310): joblib-loaded sklearn
  model, 1-row DataFrame, expm1 back-transform. Here: an MLlib
  PipelineModel loaded once (S10) serving single rows (M9).
- ``GET /filter`` (main.py:250-275): static form — trivial, out of
  scope.

These stay thin, synchronous functions: serving is driver-side by
design (SURVEY §3.3); the engine's job is to make the underlying query
cheap, which partition pruning does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.sources.catalog import write_partitioned


def volume_color(vol: Column | str) -> Column:
    """C13 (main.py:215-225): volume → marker color bucket."""
    v = F.col(vol) if isinstance(vol, str) else vol
    return (
        F.when(v > 20, "red")
        .when(v > 10, "orange")
        .when(v > 5, "yellow")
        .otherwise("green")
    )


def publish_map_table(features: DataFrame, path: str) -> None:
    """One-time layout step replacing the per-request download: features
    partitioned by the request keys (Borough, year)."""
    write_partitioned(
        features.withColumn("year", F.year("ts")), path, "Borough", "year"
    )


def map_view(spark: SparkSession, path: str, borough: str, year: int) -> DataFrame:
    """The /map query (main.py:183-191 filter + :215-225 styling):
    case-insensitive borough + year equality, color-binned. Both
    predicates hit partition columns → directory pruning, so request
    cost is proportional to ONE borough-year slice regardless of total
    table size."""
    df = spark.read.parquet(path)
    return df.filter(
        (F.lower("Borough") == borough.lower()) & (F.col("year") == year)
    ).withColumn("color", volume_color("Volume"))


class PredictService:
    """The /predict path: model loaded once (double-checked in the
    reference, main.py:108-155; trivially once here), rows served
    through the same MLlib pipeline that trained (M9), with expm1
    back-transform for log-trained models (C11)."""

    def __init__(self, spark: SparkSession, model_path: str, log_target: bool = False):
        from pyspark.ml import PipelineModel

        self._spark = spark
        self._model = PipelineModel.load(model_path)
        self._log_target = log_target

    def predict(self, features: dict[str, float]) -> float:
        import math

        from nyc_traffic_insight_spark.ml.pipelines import (
            FEATURES,
            single_row_inference,
        )

        row = {f: float(features[f]) for f in FEATURES}
        p = single_row_inference(self._spark, self._model, row)
        return math.expm1(p) if self._log_target else p
