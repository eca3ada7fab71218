"""Catalog: aggregations (SURVEY.md §2.6, A1–A8 + free Spark surface).

Scale notes: every groupBy here is a hash aggregate with map-side partial
aggregation (Spark plans partial_* before the shuffle), so the shuffle
carries |groups| rows, not |input| rows. Single-row global aggregates
(metrics, null audits) reduce tree-style — no driver bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_traffic_insight_spark.queries import register
from nyc_traffic_insight_spark.session import materialize
from nyc_traffic_insight_spark.sources import load_table
from nyc_traffic_insight_spark.functions.rounding import exact_avg, exact_sum, r as _r


@register(
    "agg_null_counts",
    survey="A1 per-column null audit (random_forest.py:164-165)",
    oracle="""
    SELECT count(*) FILTER (WHERE nullif(l_discount, 0.0) IS NULL) AS n_null_discount,
           count(*) FILTER (WHERE nullif(l_tax, 0.0) IS NULL) AS n_null_tax,
           count(*) FILTER (WHERE l_quantity IS NULL) AS n_null_quantity
    FROM lineitem
    """,
)
def agg_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.isnull().sum() as one single-pass aggregate over all audited
    columns (vs one pandas pass per column)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.nullif(F.col("l_discount"), F.lit(0.0)).alias("discount_n"),
        F.nullif(F.col("l_tax"), F.lit(0.0)).alias("tax_n"),
        "l_quantity",
    )
    return li.agg(
        F.count_if(F.col("discount_n").isNull()).alias("n_null_discount"),
        F.count_if(F.col("tax_n").isNull()).alias("n_null_tax"),
        F.count_if(F.col("l_quantity").isNull()).alias("n_null_quantity"),
    )


@register(
    "agg_count",
    survey="A2 row counts (random_forest.py:166-168) + A6 group means",
    oracle="""
    SELECT event_type, count(*) AS n, round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / (count(value) * 100), 4) AS avg_value,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100, 4) AS sum_value,
           round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
    FROM events GROUP BY event_type
    """,
)
def agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(exact_avg("value"), 4).alias("avg_value"),
            _r(exact_sum("value"), 4).alias("sum_value"),
            _r(F.min("value"), 4).alias("min_value"),
            _r(F.max("value"), 4).alias("max_value"),
        )
    )


@register(
    "agg_distinct_years",
    survey="A3 distinct years feeding the holiday calendar (SegmentedModeling.py:235)",
    oracle="SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS yr FROM orders",
)
def agg_distinct_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("yr"))
        .distinct()
    )


@register(
    "agg_corr_matrix",
    survey="A4 Pearson correlation matrix (LR_withCorrelationMatrix.ipynb cell 15)",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(corr(l_quantity, l_discount), 4) AS corr_qty_discount,
           round(corr(l_extendedprice, l_tax), 4) AS corr_price_tax
    FROM lineitem
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations as one aggregate pass (the full
    matrix is this over all column pairs; MLlib Correlation.corr gives
    the same from an assembled vector)."""
    return load_table(spark, sf_dir, "lineitem").agg(
        _r(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        _r(F.corr("l_quantity", "l_discount"), 4).alias("corr_qty_discount"),
        _r(F.corr("l_extendedprice", "l_tax"), 4).alias("corr_price_tax"),
    )


@register(
    "agg_regression_metrics",
    survey="A5/M6 R²,MSE,RMSE,MAE,MAPE as full-table aggs (random_forest.py:89-101)",
    oracle="""
    WITH scored AS (
      SELECT l.l_extendedprice AS y,
             p.p_retailprice * l.l_quantity AS yhat
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT round(1 - sum((y - yhat) * (y - yhat)) / (var_pop(y) * count(*)), 4) AS r2,
           round(avg((y - yhat) * (y - yhat)), 4) AS mse,
           round(sqrt(avg((y - yhat) * (y - yhat))), 4) AS rmse,
           round(avg(abs(y - yhat)), 4) AS mae,
           round(sum(CASE WHEN y > 0 THEN abs(y - yhat) / y ELSE 0 END)
                 / count(*) FILTER (WHERE y > 0), 4) AS mape
    FROM scored
    """,
)
def agg_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference computes these with sklearn.metrics on collected
    arrays; here they are distributed SQL aggregates over (y, yhat) —
    identical formulas, one pass, no driver materialization.
    yhat is a deterministic price model (retail price × quantity) so the
    oracle can reproduce it."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    scored = li.join(part, li.l_partkey == part.p_partkey).select(
        F.col("l_extendedprice").alias("y"),
        (F.col("p_retailprice") * F.col("l_quantity")).alias("yhat"),
    )
    err = F.col("y") - F.col("yhat")
    return scored.agg(
        _r(
            1 - F.sum(err * err) / (F.var_pop("y") * F.count(F.lit(1))), 4
        ).alias("r2"),
        _r(F.avg(err * err), 4).alias("mse"),
        _r(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
        _r(F.avg(F.abs(err)), 4).alias("mae"),
        _r(
            F.sum(F.when(F.col("y") > 0, F.abs(err) / F.col("y")).otherwise(0.0))
            / F.count_if(F.col("y") > 0),
            4,
        ).alias("mape"),
    )


@register(
    "agg_group_mean",
    survey="A6 per-group mean over time buckets (SegmentedModeling.py:239-247 groupby)",
    oracle="""
    SELECT event_type, CAST(day(ts) AS INTEGER) AS dd,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / (count(value) * 100), 4) AS mean_value, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def agg_group_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.dayofmonth("ts").alias("dd"))
        .agg(
            _r(exact_avg("value"), 4).alias("mean_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_onehot",
    survey="A7 get_dummies one-hot → pivot (features.py:51-52)",
    oracle="""
    SELECT user_id % 10 AS user_bucket,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY 1
    """,
)
def pivot_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with the value set pinned — pinning avoids the
    extra distinct-values job AND makes the output schema static, which
    is what you want at 100 TB (a schema decided by data content is an
    operational hazard)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0)
    )


@register(
    "onehot_flags",
    survey="A7 variant: one-hot as when() flag columns (RandomForest.py:65-66); J6 colbind = withColumns, no join needed (features.py:52)",
    oracle="""
    SELECT event_id,
           CAST(event_type = 'click' AS INTEGER) AS is_click,
           CAST(event_type = 'error' AS INTEGER) AS is_error,
           CAST(event_type = 'purchase' AS INTEGER) AS is_purchase,
           CAST(event_type = 'signup' AS INTEGER) AS is_signup,
           CAST(event_type = 'view' AS INTEGER) AS is_view
    FROM events
    """,
)
def onehot_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level one-hot (pd.get_dummies) as plain flag expressions; the
    MLlib path uses StringIndexer+OneHotEncoder, but for feature tables
    the expression form keeps everything in whole-stage codegen."""
    ev = load_table(spark, sf_dir, "events")
    flags = [
        (F.col("event_type") == t).cast("int").alias(f"is_{t}") for t in _EVENT_TYPES
    ]
    return ev.select("event_id", *flags)


@register(
    "agg_feature_importance_sort",
    survey="A8 sort importances desc, top-k (RandomForest.py:129-133)",
    oracle="""
    SELECT p.p_brand AS feature,
           round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                 AS DOUBLE) / 100, 4) AS importance
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1 ORDER BY importance DESC, feature LIMIT 10
    """,
)
def agg_feature_importance_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by aggregate: orderBy+limit compiles to TakeOrdered (partial
    top-k per partition, merge on driver) — never a full sort."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("feature"))
        .agg(_r(exact_sum("l_extendedprice"), 4).alias("importance"))
        .orderBy(F.desc("importance"), "feature")
        .limit(10)
    )


@register(
    "agg_rollup",
    survey="§2.6 note: rollup beyond reference (Spark builtin)",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 4) AS revenue
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(exact_sum("o_totalprice"), 4).alias("revenue"),
        )
    )


@register(
    "agg_cube",
    survey="§2.6 note: cube beyond reference (Spark builtin)",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity), 4) AS qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(F.sum("l_quantity"), 4).alias("qty"),
        )
    )


@register(
    "agg_count_distinct",
    survey="§2.6 note: exact + approx distinct (Spark builtin)",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct (expands then dedups — the scalable form is the
    approx_count_distinct variant below, which is one HLL sketch pass)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "agg_approx_count_distinct",
    survey="§2.6 note: HLL sketch distinct — the 100 TB path. Oracled "
    "as an audit (r7): exact per-group distincts + a boolean that the "
    "HLL estimate honors its error bound (the estimate itself is "
    "engine-specific)",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS approx_within_bound
    FROM events GROUP BY 1
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct-count audit: Spark's sketch estimate is
    register-layout-specific (no cross-engine value oracle), so the
    hash pins the exact per-group distinct count — recomputed
    independently by DuckDB — and that the rsd=0.01 estimate lands
    within a 5× safety margin of it (HLL++ error is a distribution;
    5σ never flaps, a broken sketch or wrong column always does). At
    100 TB the exact side disappears and ONLY the sketch runs — this
    entry is the harness that licenses that swap."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users_exact"),
            F.approx_count_distinct("user_id", 0.01).alias("__approx"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("__approx") - F.col("n_users_exact"))
                <= F.greatest(
                    F.col("n_users_exact").cast("double") * 0.05, F.lit(5.0)
                )
            ).alias("approx_within_bound"),
        )
    )


@register(
    "agg_quantiles",
    survey="§2.6 note: exact quantiles via rank (percentile sketch = scale path)",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95
    FROM events GROUP BY 1
    """,
)
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines: continuous
    quantile). At 100 TB swap percentile() for approx_percentile — same
    call shape, sketch-based single pass."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            _r(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            _r(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        )
    )


@register(
    "ols_closed_form",
    survey="M1 analog: simple OLS in closed form (LinearRegression.py:11-93)",
    oracle="""
    SELECT round(covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity), 4)
             AS slope,
           round(avg(l_extendedprice)
                 - covar_pop(l_quantity, l_extendedprice) / var_pop(l_quantity)
                   * avg(l_quantity), 4) AS intercept,
           round(corr(l_quantity, l_extendedprice)
                 * corr(l_quantity, l_extendedprice), 4) AS r2
    FROM lineitem
    """,
)
def ols_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Univariate least squares as aggregates (slope = cov/var): the
    SQL-checkable skeleton of M1; the MLlib LinearRegression pipeline is
    exercised in ml/ and its pytest invariants."""
    li = load_table(spark, sf_dir, "lineitem")
    slope = F.covar_pop("l_quantity", "l_extendedprice") / F.var_pop("l_quantity")
    return li.agg(
        _r(slope, 4).alias("slope"),
        _r(F.avg("l_extendedprice") - slope * F.avg("l_quantity"), 4).alias(
            "intercept"
        ),
        _r(
            F.corr("l_quantity", "l_extendedprice")
            * F.corr("l_quantity", "l_extendedprice"),
            4,
        ).alias("r2"),
    )


_HIST_BINS = 64


@register(
    "sketch_histogram",
    survey="north-star: equi-width histogram sketch (mergeable quantile "
    "estimates; A-family extension beyond approx_count_distinct)",
    oracle=f"""
    WITH mm AS (
      SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      FROM lineitem
    )
    SELECT CAST(least(floor((l_extendedprice - mm.lo)
                            / ((mm.hi - mm.lo) / {_HIST_BINS})),
                      {_HIST_BINS - 1}) AS INTEGER) AS bin,
           CAST(count(*) AS BIGINT) AS cnt,
           round(min(mm.lo), 4) AS domain_lo,
           round(min(mm.hi), 4) AS domain_hi
    FROM lineitem, mm
    GROUP BY 1
    """,
)
def sketch_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bin equi-width histogram of l_extendedprice: the mergeable
    quantile sketch (cellwise-addable like the count-min sketch, see
    tests/test_sketches.py). Two aggregate passes — exact min/max
    (broadcast, 1 row), then the binned count — and every number is
    deterministic, so the sketch gets a full value oracle where a
    t-digest (order-dependent centroids) could not.

    Quantile estimate q = upper edge of the first bin whose cumulative
    count reaches q·N; error ≤ one bin width of the value domain."""
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    mm = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / _HIST_BINS
    binned = li.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("lo")) / width),
            F.lit(_HIST_BINS - 1),
        )
        .cast("int")
        .alias("bin"),
        "lo",
        "hi",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        _r(F.min("lo"), 4).alias("domain_lo"),
        _r(F.min("hi"), 4).alias("domain_hi"),
    )


_TD_PROBES = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def _tdigest_oracle() -> str:
    """The digest's internals stay rows-only-by-nature (centroid means
    depend on which rows share a partition), but the QUERY is oracled
    by changing what it emits: per probe, (a) the exact discrete
    quantile of the input — value at rank ceil(q·n), deterministic and
    SQL-expressible — and (b) a boolean rank-error audit of the digest
    estimate against the pinned tolerance (0.005 near the tails, 0.03
    in the body — the same bound tests/test_sketches.py has carried
    since r3). The oracle pins the booleans to TRUE: the hash then
    proves the sketch's estimates honor the accuracy contract without
    requiring bit-equal centroid arithmetic (VERDICT r6 #4)."""
    probes = ", ".join(f"(CAST({q} AS DOUBLE))" for q in _TD_PROBES)
    return f"""
    WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
    probes(q) AS (VALUES {probes}),
    targets AS (
      SELECT p.q, CAST(ceil(p.q * nn.n) AS BIGINT) AS rk, nn.n
      FROM probes p CROSS JOIN nn
    ),
    ranked AS (
      SELECT l_extendedprice AS v,
             row_number() OVER (ORDER BY l_extendedprice) AS rn
      FROM lineitem
    )
    SELECT t.q, r.v AS exact_q, TRUE AS rank_err_ok,
           t.n AS total_weight
    FROM targets t JOIN ranked r ON r.rn = t.rk
    """


@register(
    "sketch_tdigest",
    survey="north-star: t-digest-style mergeable quantile sketch "
    "(beside sketch_histogram; NOTES.md backlog item). Oracled as a "
    "rank-error audit: exact discrete quantiles + a boolean accuracy "
    "check of the digest estimates (centroid internals stay engine-"
    "side); merge/accuracy invariants additionally pinned in "
    "tests/test_sketches.py",
    oracle=_tdigest_oracle(),
)
def sketch_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles of l_extendedprice via a two-level t-digest.

    Level 1 (``mapInPandas``): each partition builds one ~DELTA-centroid
    partial digest executor-side — the shuffle then carries centroid
    rows (O(delta) per partition), not data rows. Level 2: one small
    reduce merges all partials (P·delta rows — at 1000 executors still
    only ~10⁵ tiny rows) and reads the probe quantiles. This is the
    sketch the histogram can't be: no fixed domain needed up front, and
    tail quantiles (q=0.01/0.99) get the finest resolution by
    construction (k1 scale function). functions/tdigest.py documents
    the determinism contract that makes the merge partition-order-safe.

    Why the ESTIMATES aren't hash-compared (VERDICT r4 #5, attempted
    twice): the digest is deterministic for a FIXED partitioning
    (compress is a pure function of the centroid multiset), but the
    level-1 partials depend on which rows share a partition, and a
    cross-engine oracle would have to reproduce the greedy k1
    clustering itself — a sequential data-dependent scan that SQL can
    only express as an O(N)-iteration recursive CTE, and the t-digest
    error bound is in RANK (≤ q(1−q)·4/δ), not value, so no value grid
    is provably coarser than the estimate error. The r7 resolution
    (VERDICT r6 #4): emit what IS deterministic — the exact discrete
    quantile (value at rank ceil(q·n)) and a boolean rank-error audit
    of the estimate at the pinned tolerance — so the driver hash
    verifies the accuracy CONTRACT, while the bit-level merge algebra
    stays pinned in tests/test_sketches.py.

    The audit adds two bounded extra passes over the column (a
    count-bounded rank join for the exact quantiles and a 7-row
    broadcast rank count for the estimates) — the sketch itself is
    still the one-scan two-level tree.
    """
    import pandas as pd

    from nyc_traffic_insight_spark.functions import tdigest as td

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")

    def partial(batches):
        import numpy as np

        chunks = [
            b["l_extendedprice"].to_numpy(dtype="float64") for b in batches
        ]
        vals = np.concatenate(chunks) if chunks else np.empty(0)
        m, w = td.from_values(vals)
        yield pd.DataFrame({"mean": m, "weight": w})

    cent = li.mapInPandas(partial, "mean double, weight double")

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        m, w = td.compress(
            pdf["mean"].to_numpy(dtype="float64"),
            pdf["weight"].to_numpy(dtype="float64"),
        )
        return pd.DataFrame(
            {
                "q": _TD_PROBES,
                "est": [td.quantile(m, w, q) for q in _TD_PROBES],
            }
        )

    ests = cent.groupBy(F.lit(1).alias("g")).applyInPandas(
        final, "q double, est double"
    )

    # --- rank-error audit (driver-hashable, estimate stays internal) ---
    from pyspark.sql import Window as W2

    nn = li.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    probes = spark.createDataFrame(
        [(float(q),) for q in _TD_PROBES], "q double"
    )
    targets = probes.crossJoin(F.broadcast(nn)).select(
        "q", F.ceil(F.col("q") * F.col("n")).cast("bigint").alias("rk"), "n"
    )
    # exact discrete quantile = value at rank ceil(q·n). The global
    # row_number window is AUDIT scaffolding, not the sketch's path —
    # the digest itself never sorts; at production scale the audit
    # would run on a sample or via the count-threshold form.
    ranked = li.select(
        F.col("l_extendedprice").alias("v"),
        F.row_number().over(W2.orderBy("l_extendedprice")).alias("rn"),
    )
    exact = ranked.join(
        F.broadcast(targets), F.col("rn") == F.col("rk")
    ).select("q", F.col("v").alias("exact_q"), "n")

    # digest estimate's observed rank: one broadcast pass over the column
    tol = F.when(
        F.least(F.col("q"), 1 - F.col("q")) < 0.05, F.lit(0.005)
    ).otherwise(F.lit(0.03))
    obs = (
        li.crossJoin(F.broadcast(ests))
        .groupBy("q", "est")
        .agg(
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("est"), 1).otherwise(0)
            ).cast("bigint").alias("cnt_le")
        )
    )
    return (
        exact.join(obs, "q")
        .select(
            "q",
            "exact_q",
            (
                F.abs(F.col("cnt_le").cast("double") / F.col("n") - F.col("q"))
                <= tol
            ).alias("rank_err_ok"),
            F.col("n").alias("total_weight"),
        )
    )


# q-digest (Shrivastava et al. 2004, "Medians and Beyond") over a
# 2^_QD_LEVELS-leaf dyadic universe. Unlike the t-digest, the canonical
# level-synchronous form below is a pure function of the value MULTISET:
# leaf counts are an order-free groupBy, and each compression level
# merges sibling pairs by a count-only threshold test — no
# accumulation-order anywhere. That is what makes a full cross-engine
# value oracle possible, and both engines literally run the same
# generated SQL text (_qdigest_sql), so the algorithm cannot drift
# between the Spark side and the DuckDB side.
_QD_LEVELS = 10  # universe: 1024 leaf buckets over [min, max]
_QD_K = 256  # compression: merge threshold T = floor(n / K)
_QD_PROBES = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def _qd_leaf_body() -> str:
    """The leaf-histogram SELECT (expects CTEs ``base(v)`` and
    ``dom(lo, hi, n, t)`` in scope) — shared by the oracle's inline CTE
    and the Spark builder's one-shot materialization."""
    leaves = 2**_QD_LEVELS
    return f"""
  SELECT CAST(least(CAST(floor((b.v - d.lo)
           / (greatest(d.hi - d.lo, 1e-12) / {leaves}.0)) AS BIGINT),
           {leaves - 1}) AS BIGINT) AS id,
         CAST(count(*) AS BIGINT) AS cnt
  FROM base b CROSS JOIN dom d
  GROUP BY 1
"""


def _qd_g_body(lv: int) -> str:
    """Sibling-pair rollup of level ``lv`` (expects CTE ``c{lv}``)."""
    return f"""
  SELECT CAST(floor(id / 2.0) AS BIGINT) AS pid,
         CAST(sum(cnt) AS BIGINT) AS s
  FROM c{lv} GROUP BY 1
"""


def _qd_cnext_body(lv: int) -> str:
    """Level ``lv-1`` carriers: pairs whose combined count fits the
    threshold collapse into their parent (expects ``g{lv}``, ``dom``)."""
    return f"""
  SELECT g.pid AS id, g.s AS cnt FROM g{lv} g CROSS JOIN dom d
  WHERE g.s <= d.t
"""


def _qd_f_body(lv: int) -> str:
    """Digest nodes emitted at level ``lv``: children of pairs that
    exceed the threshold (expects ``c{lv}``, ``g{lv}``, ``dom``)."""
    return f"""
  SELECT CAST({lv} AS INTEGER) AS lvl, c.id, c.cnt
  FROM c{lv} c
  JOIN g{lv} g ON CAST(floor(c.id / 2.0) AS BIGINT) = g.pid
  CROSS JOIN dom d
  WHERE g.s > d.t
"""


def _qd_nodes_union() -> str:
    """UNION ALL of every level's emitted nodes plus the root carrier
    (expects CTEs f{LEVELS}..f1 and c0 in scope) — shared by the
    oracle's monolithic text and the Spark builder's final read."""
    return " UNION ALL ".join(
        [f"SELECT lvl, id, cnt FROM f{lv}" for lv in range(_QD_LEVELS, 0, -1)]
        + ["SELECT CAST(0 AS INTEGER) AS lvl, id, cnt FROM c0"]
    )


def _qd_tail(nodes_union: str) -> str:
    """The digest read: post-order rank scan + probe quantiles (expects
    ``dom`` and whatever CTEs ``nodes_union`` references in scope)."""
    leaves = 2**_QD_LEVELS
    probes = " UNION ALL ".join(
        f"SELECT CAST({q} AS DOUBLE) AS q" for q in _QD_PROBES
    )
    return f""",
nodes AS ({nodes_union}),
ranked AS (
  SELECT lvl, id, cnt,
         (id + 1) * CAST(power(2.0, {_QD_LEVELS} - lvl) AS BIGINT) - 1 AS ub,
         id * CAST(power(2.0, {_QD_LEVELS} - lvl) AS BIGINT) AS lb
  FROM nodes
),
cum AS (
  SELECT ub, lb, cnt,
         sum(cnt) OVER (ORDER BY ub ASC, lb DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS csum
  FROM ranked
),
probes AS ({probes}),
hits AS (
  SELECT p.q AS q, min(c.ub) AS ub_leaf
  FROM probes p
  CROSS JOIN dom d
  JOIN cum c
    ON c.csum >= CAST(ceil(p.q * CAST(d.n AS DOUBLE)) AS BIGINT)
  GROUP BY p.q
)
SELECT h.q AS q,
       CAST(floor((d.lo + (h.ub_leaf + 1)
              * (greatest(d.hi - d.lo, 1e-12) / {leaves}.0))
              * 10000.0 + 0.5) AS DOUBLE) / 10000.0 AS est,
       (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
       d.n AS total_weight
FROM hits h CROSS JOIN dom d
"""


def _qdigest_sql(
    table: str,
    dom_select: str | None = None,
    leaves_select: str | None = None,
) -> str:
    """One SQL text, both engines: build the canonical q-digest of
    ``l_extendedprice`` and read the probe quantiles.

    Portability rules: every floor/ceil result is CAST explicitly
    (Spark's floor returns BIGINT, DuckDB's returns DOUBLE), integer
    halving is floor(id / 2.0) (no engine-specific `//` or shiftright),
    probes are UNION ALL literals (VALUES syntax differs), and the final
    estimate is floor-form-rounded (never bare round(): engine rounding
    modes differ).

    ``dom_select`` replaces the domain-statistics CTE body. The dom row
    is referenced by every level CTE, and Spark INLINES non-reused CTE
    plans — leaving dom as an aggregate over base would re-scan the
    fact table once per reference (~23 scans; the executed plan showed
    266 single-partition exchanges). The Spark builder therefore
    computes the row once and inlines the exact values as literals;
    DuckDB materializes multiply-referenced CTEs, so the oracle keeps
    the aggregate form. min/max/count/floor are exact, so both forms
    produce bit-identical constants.

    ``leaves_select`` does the same for the leaf histogram: the level
    tree references c10 transitively from every level, and CTE inlining
    replicated the fact-table scan ~75× in the executed plan. The Spark
    builder materializes the ≤1024-row histogram once (localCheckpoint)
    from the SAME _qd_leaf_body text and points this parameter at it.

    Every per-level body and the digest-read tail come from the
    fragment builders above (_qd_g_body / _qd_cnext_body / _qd_f_body /
    _qd_tail) — the SAME fragments the Spark builder executes level by
    level — so the two execution shapes cannot drift algorithmically."""
    if dom_select is None:
        dom_select = f"""
  SELECT min(v) AS lo, max(v) AS hi,
         CAST(count(*) AS BIGINT) AS n,
         CAST(floor(CAST(count(*) AS DOUBLE) / {_QD_K}.0) AS BIGINT) AS t
  FROM base
"""
    if leaves_select is None:
        leaves_select = _qd_leaf_body()
    parts = [
        f"""
WITH base AS (SELECT l_extendedprice AS v FROM {table}),
dom AS ({dom_select}),
c{_QD_LEVELS} AS ({leaves_select})"""
    ]
    for lv in range(_QD_LEVELS, 0, -1):
        parts.append(
            f""",
g{lv} AS ({_qd_g_body(lv)}),
c{lv - 1} AS ({_qd_cnext_body(lv)}),
f{lv} AS ({_qd_f_body(lv)})"""
        )
    parts.append(_qd_tail(_qd_nodes_union()))
    return "".join(parts)


@register(
    "sketch_qdigest",
    survey="north-star: q-digest mergeable quantile sketch — the "
    "deterministic (order-independent) member of the quantile-sketch "
    "family, hence the one that can carry a full value-hash oracle "
    "(closes VERDICT r4 #5's oracle gap for quantile sketches)",
    oracle=_qdigest_sql("lineitem"),
)
def sketch_qdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe quantiles of l_extendedprice via a canonical q-digest over
    a 1024-leaf dyadic universe (Shrivastava et al. 2004).

    Algorithm (level-synchronous, count-only, fully deterministic):
    bucketize values to 1024 leaves over [min, max]; then for each level
    from the leaves up, every sibling pair whose combined subtree count
    is ≤ T = floor(n/256) collapses into its parent, otherwise both
    children are emitted into the digest. Quantile read: sort surviving
    nodes by (range upper bound ASC, lower bound DESC) — the q-digest
    post-order — cumulative-sum the counts and take the first node
    covering rank ceil(q·n); the estimate is that node's upper leaf
    edge. Rank error ≤ LEVELS·T ranks (≈4% at K=256); value resolution
    is one leaf width.

    Scale shape: the only full-data ops are the one-row domain
    aggregate and the 1024-key leaf groupBy (map-side partials, one
    shuffle of ≤1024 rows per task). Everything after runs on state
    HARD-BOUNDED by the 2^_QD_LEVELS leaf-id domain, so the
    compression cascade and the probe read run DRIVER-SIDE on the
    collected ≤1024-row histogram (r15; the same
    contract-bounded-collect class as the BPE trainer's capped vocab
    and the catalog's query-set broadcast — and how every production
    sketch library builds a digest: distributed histogram, in-memory
    compression). The r14 execution shape ran the ten ≤1024-row
    carrier levels as localCheckpoint jobs — measured at a
    scheduling-latency floor of ~13 sequential tiny jobs (~2.6–6.5 s
    wall at ANY SF, inflating 1:1 with host steal; two fewer-stage
    relational reworks both measured WORSE, NOTES r15). The digest is
    mergeable by construction — union two digests' node counts and
    re-run the count-only compression — which is the q-digest's
    original sensor-network use.

    Cross-engine parity: the driver fold replicates the fragment
    arithmetic operation-for-operation — integer halving id // 2
    (= CAST(floor(id / 2.0) AS BIGINT) for non-negative ids), BIGINT
    count sums as Python ints (exact), the post-order (ub ASC,
    lb DESC) rank scan, rank = ceil(q · double(n)) via math.ceil on
    the float product, and the floor-form 4dp estimate with every
    intermediate an IEEE double in the same order the SQL spells —
    while DuckDB executes the full generated relational cascade
    (_qdigest_sql) unchanged, so the driver's value-hash compare
    re-pins the in-memory fold against the relational algorithm on
    every check (tests/test_sketches.py adds the rank-error and
    covering-tree invariants on top)."""
    import math

    li = load_table(spark, sf_dir, "lineitem")
    lo, hi, n = li.agg(
        F.min("l_extendedprice"),
        F.max("l_extendedprice"),
        F.count(F.lit(1)).cast("bigint"),
    ).first()
    t = n // _QD_K
    dom = (
        f"SELECT CAST({float(lo)!r} AS DOUBLE) AS lo, "
        f"CAST({float(hi)!r} AS DOUBLE) AS hi, "
        f"CAST({n} AS BIGINT) AS n, CAST({t} AS BIGINT) AS t"
    )
    # one real pass over the fact table -> ≤1024-row histogram (the
    # SAME generated leaf fragment the oracle runs), collected under
    # the hard 2^_QD_LEVELS-row bound
    cur = {
        r["id"]: r["cnt"]
        for r in spark.sql(
            "WITH base AS (SELECT l_extendedprice AS v FROM {li}),"
            f" dom AS ({dom}) {_qd_leaf_body()}",
            li=li,
        ).collect()
    }
    # level-synchronous compression (the g/cnext/f fragment bodies as
    # an in-memory fold): sibling pairs whose combined count fits the
    # threshold collapse into their parent; the rest emit as nodes
    nodes: list[tuple[int, int, int]] = []
    for lv in range(_QD_LEVELS, 0, -1):
        grouped: dict[int, int] = {}
        for cid, cnt in cur.items():
            grouped[cid // 2] = grouped.get(cid // 2, 0) + cnt
        nxt: dict[int, int] = {}
        for pid, s in grouped.items():
            if s <= t:
                nxt[pid] = s
            else:
                for cid in (2 * pid, 2 * pid + 1):
                    if cid in cur:
                        nodes.append((lv, cid, cur[cid]))
        cur = nxt
    nodes.extend((0, cid, cnt) for cid, cnt in cur.items())
    # the digest read (_qd_tail's arithmetic): post-order rank scan
    ranked = [
        (
            (cid + 1) * (1 << (_QD_LEVELS - lv)) - 1,  # ub
            cid * (1 << (_QD_LEVELS - lv)),  # lb
            cnt,
        )
        for lv, cid, cnt in nodes
    ]
    ranked.sort(key=lambda r: (r[0], -r[1]))
    csums: list[tuple[int, int]] = []  # (ub, csum) in scan order
    acc = 0
    for ub, _lb, cnt in ranked:
        acc += cnt
        csums.append((ub, acc))
    width = max(float(hi) - float(lo), 1e-12) / float(2**_QD_LEVELS)
    out = []
    for q in _QD_PROBES:
        rank = math.ceil(q * float(n))
        ub_leaf = min(ub for ub, c in csums if c >= rank)
        est = (
            math.floor((float(lo) + (ub_leaf + 1) * width) * 10000.0 + 0.5)
            / 10000.0
        )
        out.append((float(q), est, len(nodes), n))
    return spark.createDataFrame(
        out,
        schema="q DOUBLE, est DOUBLE, n_nodes BIGINT, total_weight BIGINT",
    )


@register(
    "agg_grouping_sets",
    survey="A-family extension: GROUPING SETS in one pass (cube/rollup "
    "generalization; reference computes such rollups in separate scripts)",
    oracle="""
    SELECT event_type,
           CAST(year(ts) AS INTEGER) AS yr,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100, 4) AS total
    FROM events
    GROUP BY GROUPING SETS ((event_type), (yr), (event_type, yr))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three aggregation granularities in ONE shuffle (the expand
    operator replicates rows per grouping set map-side) — the
    reference runs a separate pandas groupby per granularity."""
    return spark.sql(
        """
        SELECT event_type, CAST(year(ts) AS INT) AS yr,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
                 AS total
        FROM {ev}
        GROUP BY GROUPING SETS ((event_type), (yr), (event_type, yr))
        """,
        ev=load_table(spark, sf_dir, "events"),
    )


@register(
    "qa_referential_integrity",
    survey="north-star: referential-integrity audit across the star "
    "schema (orphan counts per foreign key, one row per edge)",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders r
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = r.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST((SELECT count(*) FROM customer) AS BIGINT),
           CAST((SELECT count(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT)
    """,
)
def qa_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan audit over three FK edges of the star schema — the
    pre-flight data-quality gate every pipeline runs before joins are
    trusted (the reference discovers bad keys as silent NaN fan-in
    after its merges; this surfaces them as counts up front).

    Scale shape: each edge is ONE left join against the broadcast
    parent-key set with both counts read off the same pass —
    count(*) and count-of-unmatched — so every child table is scanned
    exactly once with only the FK column read (the earlier anti-join
    formulation scanned each child twice: once for the total, once for
    the orphans). Counts are exact integers → hash-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def edge(name: str, child: DataFrame, fk: str, parent: DataFrame, pk: str):
        hit = parent.select(F.col(pk).alias("__pk")).withColumn(
            "__hit", F.lit(1)
        )
        joined = child.select(F.col(fk).alias("__fk")).join(
            F.broadcast(hit), F.col("__fk") == F.col("__pk"), "left"
        )
        return joined.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphans"),
        )

    e1 = edge("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey")
    e2 = edge("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey")
    e3 = edge("customer.c_nationkey->nation", cust, "c_nationkey", nation, "n_nationkey")
    return e1.unionByName(e2).unionByName(e3)


@register(
    "agg_mode_by_group",
    survey="A-family extension: deterministic grouped mode (most "
    "frequent event_type per user, ties lexicographic)",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT user_id, event_type, c,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY c DESC, event_type) AS rn
      FROM counts
    )
    SELECT user_id, event_type AS mode_event_type, CAST(c AS BIGINT) AS n
    FROM ranked WHERE rn = 1
    """,
)
def agg_mode_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent event_type per user — mode, made deterministic with
    a lexicographic tie-break (Spark's built-in ``mode`` and most
    engines' MODE() break ties arbitrarily, which can never hash-match
    across engines; the explicit (count DESC, value ASC) contract can).

    Scale shape: two-level aggregate — groupBy(user, type) with map-side
    partials, then an argmin per user over at most |distinct types|
    rows; no window over raw facts. The tie-break rides inside a
    min_by struct key (-count, value): struct comparison is
    field-by-field, so ordering by (-c, value) ascending is exactly
    (count DESC, value ASC)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    pick = F.min_by(
        F.struct("event_type", "c"), F.struct((-F.col("c")).alias("nc"), "event_type")
    )
    return counts.groupBy("user_id").agg(
        pick["event_type"].alias("mode_event_type"),
        pick["c"].cast("bigint").alias("n"),
    )


@register(
    "win_ntile_buckets",
    survey="W-family extension: ntile quartile bucketing per group "
    "(feature binning by within-group rank)",
    oracle="""
    SELECT event_id, event_type,
           CAST(ntile(4) OVER (PARTITION BY event_type
                               ORDER BY value NULLS LAST, event_id) AS INTEGER)
             AS value_quartile
    FROM events
    """,
)
def win_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-group quartile assignment via ntile(4) — the rank-based
    feature binning that, unlike fixed-edge bins (case_volume_bins),
    adapts to each group's distribution.

    Scale shape: one shuffle on the PARTITION BY key; the orderBy
    includes event_id so equal values land in a deterministic quartile
    (bare ntile over ties is engine-dependent), and null ordering is
    pinned NULLS LAST on both sides — Spark ASC defaults to NULLS FIRST
    while DuckDB ASC defaults to NULLS LAST, so a bare ORDER BY value
    would silently flip quartiles if nulls ever appear. Skewed groups
    split via AQE; no global ordering anywhere."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("value"), "event_id"
    )
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).cast("int").alias("value_quartile"),
    )


@register(
    "funnel_conversion",
    survey="A/J-family extension: ordered event funnel "
    "(view -> click -> purchase, strictly increasing timestamps) — the "
    "product-analytics staple the reference computes nowhere but its "
    "users would reach for first on an events table",
    oracle="""
    WITH ew AS (
      SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    ),
    v AS (
      SELECT user_id, min(ts) AS t0 FROM ew
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM ew e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM ew e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1
    )
    SELECT CAST(1 AS INTEGER) AS stage_ord, 'view' AS stage,
           CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
    UNION ALL
    SELECT CAST(2 AS INTEGER), 'click',
           CAST((SELECT count(*) FROM c) AS BIGINT)
    UNION ALL
    SELECT CAST(3 AS INTEGER), 'purchase',
           CAST((SELECT count(*) FROM p) AS BIGINT)
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel: a user converts a stage only with an event
    AFTER their previous stage's first event (min-ts chaining, the
    textbook semantics — an earlier purchase does not count).

    The analysis window (first two days of the fixture) is part of the
    operator: without it every fixture user converts every stage and
    the strict-ordering semantics go untested — windowed funnels are
    also the production shape (campaign windows).

    Scale shape: three groupBy(user_id) aggregations and two joins, all
    keyed on user_id — each stage shuffles its per-user table on that
    one key inside its own materialized job (``materialize`` below),
    and each stage's table shrinks monotonically (funnel!), so later
    joins broadcast. The final readout is three one-row stage-count
    merges (the SinglePartition exchanges accounted in
    tests/test_plan_audit.py). No windows over raw events, no
    cross-stage state beyond one timestamp per user."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    # each stage's per-user table is materialized once (bounded by
    # |users|): the next stage and its own stage-count aggregate reuse
    # it, so the whole funnel costs three fact scans — without this,
    # lineage inlining re-derived every earlier stage per reference
    # (the executed plan showed six)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .transform(materialize)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .transform(materialize)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .transform(materialize)
    )

    def stage(ord_: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(ord_).cast("int").alias("stage_ord"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )

    return stage(1, "view", v).unionAll(stage(2, "click", c)).unionAll(
        stage(3, "purchase", p)
    )


@register(
    "cohort_retention",
    survey="A/W-family extension: weekly cohort retention matrix "
    "(first-seen week x week offset -> active users)",
    oracle="""
    WITH firstseen AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY 1
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
      FROM events
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(floor(date_diff('day', f.cohort_week, a.active_week) / 7.0)
                AS INTEGER) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM firstseen f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: cohort = Monday-truncated week of a
    user's first event; one row per (cohort, weeks-since) with the
    distinct active-user count. Both engines Monday-truncate weeks and
    the offset is an exact day-difference / 7 (both weeks are trunc'd,
    so the division is exact).

    Scale shape: groupBy(user) for first-seen, DISTINCT over
    (user, week) — both shuffle on user_id and AQE co-locates the join
    that follows; the output is bounded by cohorts x offsets, not by
    events. At 100 TB the DISTINCT is the heavy op and it partial-
    aggregates map-side."""
    ev = load_table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("active_week")
    ).distinct()
    return (
        fs.join(act, "user_id")
        .groupBy(
            # ISO string, not DATE: the engines surface DATE through
            # Arrow differently (date32 vs datetime64), which the value
            # hash would see as a type mismatch on identical days
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                F.datediff("active_week", "cohort_week") / F.lit(7.0)
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "agg_outlier_mad",
    survey="A-family extension: robust outlier audit per group "
    "(median absolute deviation, 3.5-sigma-equivalent rule) — the "
    "data-quality gate a training pipeline runs before ingesting a "
    "numeric column",
    oracle="""
    WITH med AS (
      SELECT event_type,
             round(quantile_cont(value, 0.5), 4) AS med
      FROM events GROUP BY 1
    ),
    mad AS (
      SELECT e.event_type,
             round(quantile_cont(abs(e.value - m.med), 0.5), 4) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY 1
    )
    SELECT e.event_type, m.med, d.mad,
           CAST(count(*) FILTER (WHERE abs(e.value - m.med) > 3.5 * d.mad)
                AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    GROUP BY 1, m.med, d.mad
    """,
)
def agg_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust outlier counts: |value - median| > 3.5 * MAD.

    Cross-engine contract: the median and MAD are floor-form-rounded to
    4 dp BEFORE the threshold comparison on BOTH sides — the engines'
    interpolated percentiles can differ in the last ulp, and an
    unrounded threshold would let a borderline row flip the count
    (same hazard class as the ntile null-ordering pin). Null values
    drop out identically: percentile ignores them, and the outlier
    predicate is null (not true) for them on both engines.

    Scale shape: two percentile passes and a final count, all shuffled
    on the same small group key; the per-group stats tables are tiny
    and broadcast back onto the fact scan. At 100 TB swap the exact
    percentile for approx_percentile — same call shape, one pass."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        _r(F.percentile("value", F.lit(0.5)), 4).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            _r(
                F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)),
                4,
            ).alias("mad")
        )
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3.5 * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "qa_profile_table",
    survey="north-star QA tier: one-pass column profile "
    "(rows/nulls/distincts/min/max/mean per column, long format) — the "
    "first thing a data engineer runs on an unknown 100 TB table",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           round(min({c}), 4) AS min_v,
           round(max({c}), 4) AS max_v,
           round(avg({c}), 4) AS avg_v
    FROM lineitem"""
        for c in _PROFILE_COLS
    ),
)
def qa_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the lineitem measures, one output row per
    column. The Spark side computes ALL columns' aggregates in a single
    scan (one wide agg row) and unpivots driver-side expression-wise;
    the oracle spells the same numbers as one UNION branch per column
    (DuckDB scans per branch — fine for an oracle, wrong for 100 TB,
    which is exactly why the engine side is the one-pass form).

    Scale shape: one pass, map-side partial aggregation for every
    stat; count(DISTINCT) rewrites to a two-stage expand aggregate
    (Spark's standard plan — |distinct| partial rows per column, not
    |input|). The unpivot is a zero-cost projection of a ONE-ROW
    intermediate. At 100 TB swap exact distincts for
    approx_count_distinct (same call shape, see
    agg_approx_count_distinct)."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__n_distinct"),
            _r(F.min(c), 4).alias(f"{c}__min_v"),
            _r(F.max(c), 4).alias(f"{c}__max_v"),
            _r(F.avg(c), 4).alias(f"{c}__avg_v"),
        ]
    wide = li.agg(*aggs)
    stats = ["n_rows", "n_nulls", "n_distinct", "min_v", "max_v", "avg_v"]
    per_col = [
        F.struct(
            F.lit(c).alias("col_name"),
            *[F.col(f"{c}__{s}").alias(s) for s in stats],
        )
        for c in _PROFILE_COLS
    ]
    return wide.select(
        F.explode(F.array(*per_col)).alias("p")
    ).select("p.*")


@register(
    "agg_skew_kurtosis",
    survey="A-family extension: per-group skewness and excess kurtosis "
    "via explicit central moments — the distribution-shape audit for a "
    "numeric feature, spelled as portable moment arithmetic because "
    "the engines' built-ins disagree on bias correction (Spark "
    "skewness() is population-form, DuckDB's is sample-form)",
    oracle="""
    WITH mu AS (
      SELECT event_type,
             round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / (count(value) * 100), 4) AS m
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    mom AS (
      SELECT e.event_type,
             avg(power(e.value - mu.m, 2)) AS m2,
             avg(power(e.value - mu.m, 3)) AS m3,
             avg(power(e.value - mu.m, 4)) AS m4,
             CAST(count(*) AS BIGINT) AS n
      FROM events e JOIN mu ON e.event_type = mu.event_type
      WHERE e.value IS NOT NULL
      GROUP BY 1
    )
    SELECT event_type,
           round(m3 / power(m2, 1.5), 4) AS skewness_pop,
           round(m4 / (m2 * m2) - 3, 4) AS kurtosis_excess,
           n
    FROM mom
    """,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness g1 = m3/m2^1.5 and excess kurtosis
    g2 = m4/m2² − 3 from explicit central moments.

    Cross-engine contract: the group mean is floor-form-rounded to 4 dp
    BEFORE the moment computation on both sides (same hazard class as
    agg_outlier_mad — an unrounded last-ulp mean difference would leak
    into every cubed/quartic deviation), and the final ratios are
    rounded per the catalog convention. The built-in skewness()/
    kurtosis() functions are deliberately NOT used: the engines
    disagree on sample-vs-population bias correction, so the moment
    algebra is the portable form — and it is also the mergeable form
    (partial (n, Σd², Σd³, Σd⁴) per partition).

    Scale shape: two passes shuffled on the same small group key, the
    tiny mean table broadcast back onto the fact scan."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    mu = ev.groupBy("event_type").agg(_r(exact_avg("value"), 4).alias("m"))
    d = F.col("value") - F.col("m")
    mom = (
        ev.join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(
            F.avg(d * d).alias("m2"),
            F.avg(d * d * d).alias("m3"),
            F.avg(d * d * d * d).alias("m4"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return mom.select(
        "event_type",
        _r(F.col("m3") / F.pow("m2", 1.5), 4).alias("skewness_pop"),
        _r(F.col("m4") / (F.col("m2") * F.col("m2")) - 3, 4).alias(
            "kurtosis_excess"
        ),
        "n",
    )


@register(
    "agg_entropy_by_group",
    survey="A-family extension: Shannon entropy of the event-type "
    "distribution per user — the behavioral-diversity / anomaly audit "
    "(entropy 0 = single-action bots, high = organic mixes)",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS c
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT user_id, sum(c) AS n FROM c GROUP BY 1
    )
    SELECT c.user_id,
           CAST(t.n AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(-sum((c.c / t.n) * ln(c.c / t.n)), 4) AS entropy
    FROM c JOIN t ON c.user_id = t.user_id
    GROUP BY c.user_id, t.n
    """,
)
def agg_entropy_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy (nats) of the action distribution:
    H = −Σ p·ln p with p = count(type)/count(*).

    Scale shape: two groupBys on the same key (user, then user×type
    collapsing back to user) — the second join/aggregate runs on the
    already-reduced counts table, so the fact table is scanned once.
    The log-sum is an order-dependent float accumulation → round(,4)
    both sides per the catalog convention; the count ratios themselves
    are exact."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    t = c.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        c.join(t, "user_id")
        .groupBy("user_id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            _r(-F.sum(p * F.log(p)), 4).alias("entropy"),
        )
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_events"),
            "n_types",
            "entropy",
        )
    )
