"""The benchmark's workloads, timed from outside the package.

Each workload runs in its own process with a fresh session and calls only
public entry points: ``QuerySpec.builder`` and the noop sink for the batch
workloads; ``serving.publish_map_table``, ``serving.PredictService``,
``serving_http.serve`` and ``serving.map_view`` for the serving one.

Every run has the same shape:

1. set-up, ``SETUPS`` times: a fresh SparkSession plus the workload's own
   preparation; ``setup_s`` is the median (the first start also launches
   the JVM, which the median leaves out);
2. outputs checked outside the timed region (batch: every op against its
   DuckDB oracle; serving: every response against a direct engine call),
   the batch check pass doubling as the cold first pass;
3. warm-up until steady: repeated until two consecutive warm-up blocks
   agree within ``STEADY_TOL`` (capped);
4. the measured region: whole passes (batch) or closed-loop load
   (serving) for at least ``--seconds``.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import jobtrace as tr

# The traffic ETL and feature surface of the reference: plans are short
# and builders launch at most a footer read, so scan, planning and
# per-job scheduling dominate.  It bypasses the builder and cache layers.
ETL_TRAFFIC = (
    "flagship_volume_features",
    "join_traffic_weather_boro",
    "join_traffic_weather_time",
    "join_asof",
    "join_range_binned",
    "join_nearest_spatial",
    "agg_count",
    "agg_regression_metrics",
    "win_lag_multi",
    "win_roll_mean_24",
    "win_ranking",
    "pivot_onehot",
    "geo_reproject_forward",
)
# The corpus-composition tier: builders run 6-9 eager jobs each and share
# the session caches and the artifacts store (dedup_semantic's cell
# index), so the build layer carries most of the wall.
CORPUS_COMPOSE = (
    "pipeline_pretrain_order",
    "pipeline_unimax_corpus",
    "dedup_semantic",
)
BATCH = {"etl_traffic": ETL_TRAFFIC, "corpus_compose": CORPUS_COMPOSE}
WORKLOADS = (*BATCH, "serve_http")

SETUPS = 5
STEADY_TOL = 0.10
MAX_WARM_PASSES = 2
WARM_BLOCK_S = 4.0
MAX_WARM_S = 12.0
BOROUGHS = ("Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island")
MAP_YEAR = 2024  # every generated event falls in 2024
PREDICT_POOL = 4


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def kind_p50(samples: dict[str, list[float]]) -> float:
    """Mean over op kinds (batch ops, serving routes) of each kind's median.

    The kinds' latencies form separate clusters; the median of the pooled
    sample would land in the gap between two clusters and jump with the
    exact mix a run happened to measure."""
    return statistics.fmean(median(v) for v in samples.values() if v)


def tail_supported(n: int, q: float) -> bool:
    """True when at least ten of ``n`` samples lie beyond quantile ``q``."""
    return round(n * (1.0 - q), 9) >= 10


def pass_orders(ops, seed: int, passes: int) -> list[list[str]]:
    """The op order of each pass: a seeded permutation per pass."""
    rng = random.Random(seed)
    return [rng.sample(list(ops), len(ops)) for _ in range(passes)]


@dataclass
class Run:
    """State of one benchmark run: the session, counters and spans."""

    workload: str
    seed: int
    seconds: float
    traced: bool
    sf_dir: str
    work_dir: str
    cores: int
    spark: object = None
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    spans: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    session_starts: list = field(default_factory=list)
    artifact_builds: list = field(default_factory=list)
    marks: dict = field(default_factory=dict)
    t0: float = field(default_factory=time.perf_counter)

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run began."""
        self.marks[phase] = time.perf_counter() - self.t0

    def fail(self, what: str, err: BaseException | str) -> None:
        self.failed += 1
        msg = err if isinstance(err, str) else f"{type(err).__name__}: {err}"
        self.failures.append(f"{what}: {msg}"[:400])

    # -- session ---------------------------------------------------------
    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work_dir, "tmp")
        c = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            # -UsePerfData: no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.traced:
            c.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000",
            })
        return c

    def start_session(self):
        from nyc_traffic_insight_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(extra_conf=self.conf())
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        self.session_starts.append(time.perf_counter() - t)
        self.spark = spark
        return spark

    def setups(self, prepare) -> None:
        """``SETUPS`` × (fresh session + ``prepare(spark)``); the last one
        stays up for the run.  ``prepare`` returns a teardown callable."""
        walls = []
        for i in range(SETUPS):
            t = time.perf_counter()
            spark = self.start_session()
            teardown = prepare(spark)
            walls.append(time.perf_counter() - t)
            if i < SETUPS - 1:
                teardown()
                spark.stop()
        self.e2e["setup_s"] = median(walls)
        self.layer["session.start_s"] = median(self.session_starts)
        self.layer["session.cold_start_s"] = self.session_starts[0]

    def artifact_count(self) -> int:
        root = os.environ["NTIS_ARTIFACT_DIR"]
        return len(os.listdir(root)) if os.path.isdir(root) else 0


def time_artifact_builds(run: Run) -> None:
    """Time every artifacts-store build (traced runs): wraps the store's
    ``cached_json`` where the catalog looks it up."""
    from nyc_traffic_insight_spark import artifacts
    from nyc_traffic_insight_spark.queries import textops

    inner = artifacts.cached_json

    def timed(name, sf_dir, tables, params, build):
        def build_timed():
            t = time.perf_counter()
            try:
                return build()
            finally:
                run.artifact_builds.append((name, time.perf_counter() - t))

        return inner(name, sf_dir, tables, params, build_timed)

    artifacts.cached_json = textops.cached_json = timed


# ---------------------------------------------------------------- batch


def oracle_frame(run: Run, op: str, sql: str, duck):
    """The oracle's answer for ``op``, computed once per data set and kept
    next to it (it depends only on the SQL text and the tables)."""
    import hashlib

    import pandas as pd

    d = os.path.join(run.sf_dir, "oracle")
    path = os.path.join(d, f"{op}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    want = duck().sql(sql).df()
    os.makedirs(d, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    want.to_pickle(tmp)
    os.replace(tmp, path)
    return want


def check_ops(run: Run, specs, ops) -> None:
    """Run every op once through ``toPandas`` and compare it with its
    oracle (the suite's own ``tests/oracle_utils.compare``)."""
    from tests.oracle_utils import compare, duck_connect

    con = []

    def duck():
        if not con:
            con.append(duck_connect(run.sf_dir))
        return con[0]

    for op in ops:
        run.attempted += 1
        try:
            if specs[op].oracle is None:
                raise ValueError("op has no oracle")
            got = specs[op].builder(run.spark, run.sf_dir).toPandas()
            compare(got, oracle_frame(run, op, specs[op].oracle, duck), op)
        except Exception as ex:  # noqa: BLE001 - a failed op is a result
            run.fail(op, ex)
    for c in con:
        c.close()


def run_pass(run: Run, specs, order, k: int, traced: bool) -> list[float]:
    """One pass over ``order``; returns each op's wall (build + sink)."""
    sc = run.spark.sparkContext
    walls = []
    for op in order:
        run.attempted += 1
        span = {"op": op, "pass": k}
        try:
            if traced:
                sc.setJobGroup(f"{op}#build", f"p{k}")
            a = time.perf_counter()
            df = specs[op].builder(run.spark, run.sf_dir)
            b = time.perf_counter()
            if traced:
                analysis = tr.tracker_phases(df).get("analysis", 0.0)
                sc.setJobGroup(f"{op}#sink", f"p{k}")
            c = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            d = time.perf_counter()
        except Exception as ex:  # noqa: BLE001 - a failed op is a result
            run.fail(op, ex)
            continue
        finally:
            if traced:
                tr.untag(sc)
        walls.append((b - a) + (d - c))
        span.update(build_s=b - a, sink_s=d - c)
        if traced:
            span.update({f"{p}_ms": v for p, v in tr.force_plan_phases(df).items()})
            span["analysis_ms"] = analysis
        run.spans.append(span)
    return walls


def run_batch(run: Run) -> None:
    from nyc_traffic_insight_spark.queries import load_all

    specs = load_all()
    ops = BATCH[run.workload]
    if run.traced:
        time_artifact_builds(run)
    run.setups(lambda spark: (lambda: None))
    run.mark("setup")

    # Passes: 0 = check (cold), then warm-up, then measured.  Orders are
    # drawn up front so a seed fixes the whole op sequence.
    orders = pass_orders(ops, run.seed, 64)
    check_ops(run, specs, orders[0])
    run.mark("check")
    k, warm = 1, []
    while True:
        warm.append(sum(run_pass(run, specs, orders[k], k, False)))
        k += 1
        steady = len(warm) >= 2 and abs(warm[-1] - warm[-2]) <= STEADY_TOL * warm[-2]
        if steady or len(warm) >= MAX_WARM_PASSES:
            break
    run.layer["warmup.passes"] = len(warm)
    run.layer["warmup.steady"] = float(steady)
    run.mark("warmup")

    arts0 = run.artifact_count()
    first, walls, t0 = k, [], time.perf_counter()
    while time.perf_counter() - t0 < run.seconds:
        walls += run_pass(run, specs, orders[k % len(orders)], k, run.traced)
        k += 1
    if not walls:
        raise RuntimeError("no op completed in the measured region")
    per_op: dict[str, list[float]] = {}
    for s in run.spans:
        if s["pass"] >= first:
            per_op.setdefault(s["op"], []).append(1000.0 * (s["build_s"] + s["sink_s"]))
    run.e2e["ops_per_min"] = 60.0 * len(walls) / sum(walls)
    run.e2e["op_p50_ms"] = kind_p50(per_op)
    run.layer["artifacts.built_timed"] = run.artifact_count() - arts0
    run.mark("measure")
    if run.traced:
        run.layer["cache.mem_bytes"] = tr.cached_bytes(run.spark.sparkContext)
        batch_layers(run)
        run.mark("trace")


def batch_layers(run: Run) -> None:
    """Per-layer totals per traced pass (medians across passes) from the
    spans joined with the job-group metrics."""
    jobs, stages = tr.read_status(run.spark.sparkContext.uiWebUrl)
    by_group = tr.attribute(jobs, stages)
    empty = {k: 0 for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
                            "in_bytes", "in_rows", "shuffle_w", "shuffle_r", "spill")}
    per_pass: dict[int, dict] = {}
    for s in (s for s in run.spans if "planning_ms" in s):
        b = by_group.get((f"{s['op']}#build", f"p{s['pass']}"), empty)
        k = by_group.get((f"{s['op']}#sink", f"p{s['pass']}"), empty)
        s["build"], s["sink"] = b, k
        t = per_pass.setdefault(s["pass"], {})
        for name, v in (
            ("build.wall_s", s["build_s"]),
            ("build.jobs", b["jobs"]),
            ("build.exec_run_s", b["run_ms"] / 1000.0),
            ("plan.analysis_ms", s["analysis_ms"]),
            ("plan.optimization_ms", s["optimization_ms"]),
            ("plan.planning_ms", s["planning_ms"]),
            ("sink.wall_s", s["sink_s"]),
            ("sink.jobs", k["jobs"]),
            ("sink.stages", k["stages"]),
            ("sink.tasks", k["tasks"]),
            ("exec.run_s", k["run_ms"] / 1000.0),
            ("exec.cpu_s", k["cpu_ns"] / 1e9),
            ("exec.gc_s", k["gc_ms"] / 1000.0),
            ("sched.overhead_s", s["sink_s"] - k["run_ms"] / 1000.0 / run.cores),
            ("scan.input_bytes", b["in_bytes"] + k["in_bytes"]),
            ("scan.input_rows", b["in_rows"] + k["in_rows"]),
            ("shuffle.write_bytes", b["shuffle_w"] + k["shuffle_w"]),
            ("shuffle.read_bytes", b["shuffle_r"] + k["shuffle_r"]),
            ("spill.bytes", b["spill"] + k["spill"]),
        ):
            t[name] = t.get(name, 0) + v
    for name in next(iter(per_pass.values()), {}):
        run.layer[name] = median([t[name] for t in per_pass.values()])


# -------------------------------------------------------------- serving


def map_features(spark, sf_dir: str):
    """The map table's rows: one marker per ``events`` row, spread over the
    five boroughs (20k rows per borough slice at sf0.1)."""
    from pyspark.sql import functions as F

    from nyc_traffic_insight_spark.sources.catalog import load_table

    boro = F.element_at(
        F.array(*[F.lit(b) for b in BOROUGHS]), (F.col("event_id") % 5 + 1).cast("int")
    )
    return load_table(spark, sf_dir, "events").select(
        boro.alias("Borough"),
        "ts",
        F.col("value").alias("Volume"),
        (40.5 + (F.col("event_id") % 997) / 2500.0).alias("latitude"),
        (-74.25 + (F.col("event_id") % 991) / 2200.0).alias("longitude"),
    )


def ensure_served_inputs(run: Run) -> tuple[str, str]:
    """The published map table and the /predict model (a LinearRegression
    PipelineModel fitted on the feature table): built once per data set
    and kept beside it, like a deployed index."""
    map_path = os.path.join(run.sf_dir, "map-table")
    model_path = os.path.join(run.sf_dir, "model-linear-regression")
    if os.path.isdir(map_path) and os.path.isdir(model_path):
        return map_path, model_path
    from nyc_traffic_insight_spark import serving
    from nyc_traffic_insight_spark.ml.pipelines import feature_table, fit_linear_regression

    spark = run.start_session()
    for path, write in (
        (map_path, lambda p: serving.publish_map_table(map_features(spark, run.sf_dir), p)),
        (model_path, lambda p: fit_linear_regression(feature_table(spark, run.sf_dir))
            .write().overwrite().save(p)),
    ):
        if not os.path.isdir(path):
            tmp = f"{path}.{os.getpid()}.tmp"
            write(tmp)
            os.replace(tmp, path)
    spark.stop()
    run.session_starts.clear()
    return map_path, model_path
    from nyc_traffic_insight_spark import serving
    from nyc_traffic_insight_spark.ml.pipelines import feature_table, fit_linear_regression

    spark = run.start_session()
    tmp = f"{map_path}.{os.getpid()}.tmp"
    serving.publish_map_table(map_features(spark, run.sf_dir), tmp)
    os.replace(tmp, map_path)
    tmp = f"{model_path}.{os.getpid()}.tmp"
    fit_linear_regression(feature_table(spark, run.sf_dir)).write().overwrite().save(tmp)
    os.replace(tmp, model_path)
    spark.stop()
    run.session_starts.clear()
    return map_path, model_path


def predict_pool(seed: int) -> list[dict[str, float]]:
    """The seeded feature vectors /predict is asked about."""
    from loadgen import feature_vector

    rng = random.Random(f"pool-{seed}")
    return [feature_vector(rng) for _ in range(PREDICT_POOL)]


def load(port: int, seconds: float, seq_seed: str, clients: int, pool) -> list[dict]:
    """One closed-loop load block from a separate client process."""
    cfg = {"port": port, "seconds": seconds, "clients": clients, "seq_seed": seq_seed,
           "boroughs": BOROUGHS, "year": MAP_YEAR, "pool": pool}
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, os.path.join(here, "loadgen.py")],
        input=json.dumps(cfg), capture_output=True, text=True, timeout=seconds + 120,
    )
    if out.returncode != 0:
        raise RuntimeError(f"load generator failed: {out.stderr[-400:]}")
    return [json.loads(line) for line in out.stdout.splitlines() if line.strip()]


def check_responses(run: Run, recs, map_counts: dict, predictions: list) -> None:
    """Count each request; a non-200, a wrong marker count or a prediction
    that differs from the direct ``PredictService.predict`` fails it."""
    for r in recs:
        run.attempted += 1
        what = f"{r['route']} #{r['i']}"
        if r["status"] != 200:
            run.fail(what, f"HTTP {r['status']}")
        elif r["route"] == "map" and r["value"] != map_counts[r["key"]]:
            run.fail(what, f"{r['value']} markers, direct map_view has {map_counts[r['key']]}")
        elif r["route"] == "predict" and r["value"] != predictions[r["key"]]:
            run.fail(what, f"prediction {r['value']!r} != direct {predictions[r['key']]!r}")


def run_serve(run: Run) -> None:
    from nyc_traffic_insight_spark import serving, serving_http

    map_path, model = ensure_served_inputs(run)
    state = {}

    def prepare(spark):
        svc = serving.PredictService(spark, model)
        srv = serving_http.serve(spark, map_path, svc)
        state.update(svc=svc, srv=srv)
        return lambda: (srv.shutdown(), srv.server_close())

    run.setups(prepare)
    run.mark("setup")
    srv, svc = state["srv"], state["svc"]
    port = srv.server_address[1]
    clients = max(1, run.cores // 2)
    pool = predict_pool(run.seed)
    sc = run.spark.sparkContext
    try:
        recs, blocks = [], []
        while True:
            block = load(port, WARM_BLOCK_S, f"warm{len(blocks)}-{run.seed}", clients, pool)
            recs += block
            blocks.append(median([r["ms"] for r in block]))
            steady = len(blocks) >= 2 and abs(blocks[-1] - blocks[-2]) <= STEADY_TOL * blocks[-2]
            if steady or len(blocks) * WARM_BLOCK_S >= MAX_WARM_S:
                break
        run.layer["warmup.passes"] = len(blocks)
        run.layer["warmup.steady"] = float(steady)
        run.mark("warmup")
        if run.traced:
            jobs0 = tr.ungrouped_job_ids(sc)
        measured = load(port, run.seconds, f"measure-{run.seed}", clients, pool)
        if run.traced:
            jobs = len(tr.ungrouped_job_ids(sc) - jobs0)
    finally:
        srv.shutdown()
        srv.server_close()
    recs += measured
    run.mark("measure")

    if not measured:
        raise RuntimeError("no request completed in the measured region")
    route = {k: [r["ms"] for r in measured if r["route"] == k] for k in ("map", "predict")}
    run.e2e["ops_per_min"] = 60.0 * len(measured) / max(r["t1"] for r in measured)
    run.e2e["op_p50_ms"] = kind_p50(route)

    # Direct engine calls: the expected answers, and the engine-side times.
    sc.setJobGroup("direct#engine", "check")
    map_counts, engine_ms, render_ms, rows, phases = {}, [], [], [], []
    for i, b in enumerate(BOROUGHS):
        df = serving.map_view(run.spark, map_path, b, MAP_YEAR)
        if not run.traced:
            map_counts[i] = df.count()
            continue
        t = time.perf_counter()
        slice_rows = [r.asDict() for r in df.collect()]
        engine_ms.append(1000 * (time.perf_counter() - t))
        t = time.perf_counter()
        serving_http.render_map_html(slice_rows, title=f"{b} {MAP_YEAR}")
        render_ms.append(1000 * (time.perf_counter() - t))
        map_counts[i] = len(slice_rows)
        rows.append(len(slice_rows))
        phases.append(tr.tracker_phases(df))
    predictions, predict_ms = [], []
    for vec in pool:
        t = time.perf_counter()
        predictions.append(svc.predict(vec))
        predict_ms.append(1000 * (time.perf_counter() - t))
    tr.untag(sc)
    check_responses(run, recs, map_counts, predictions)
    run.mark("check")

    if run.traced:
        m_p50, p_p50 = median(route["map"]), median(route["predict"])
        run.layer.update({
            "serve.map_p50_ms": m_p50,
            "serve.predict_p50_ms": p_p50,
            "serve.map_engine_ms": median(engine_ms),
            "serve.map_render_ms": median(render_ms),
            "serve.map_rows": median(rows),
            "serve.predict_engine_ms": median(predict_ms),
            "serve.shell_ms": (
                (m_p50 - median(engine_ms) - median(render_ms))
                + (p_p50 - median(predict_ms))
            ) / 2,
            "serve.jobs_per_request": jobs / max(1, len(measured)),
            **{f"plan.{k}_ms": median([p.get(k, 0.0) for p in phases]) for k in tr.PHASES},
        })
    run.spans.append({"route_samples": {k: len(v) for k, v in route.items()},
                      "tail_p95_supported": {k: tail_supported(len(v), 0.95)
                                             for k, v in route.items()}})


def run_workload(run: Run) -> None:
    (run_serve if run.workload == "serve_http" else run_batch)(run)

