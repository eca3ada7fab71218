"""Benchmark entry point: one workload, one process, one fresh session.

    python3 perfbench/run.py --workload corpus_compose --seed 1 --seconds 10 --trace 0

Run from the repository root.  The input tables are generated from a fixed
data seed on first use and kept under ``perfbench/.data``; ``--seed`` draws
the op order of every pass, the serving request sequence and the
/predict feature values.  Every op's output is checked outside the timed
region.  The last line of stdout is

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

holding the end-to-end metrics with ``--trace 0`` and the per-layer
metrics with ``--trace 1``.  The line before it records the pinned
deployment settings and host facts; a JSON sidecar with every per-op span
goes to ``perfbench/.results``.  Exits non-zero without a result line when
the run cannot complete (including when the package is not present).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_SEED = 42
RUN_BUDGET_S = 170  # a run must end within 180 s
BUILD_BUDGET_S = 850  # first run in a checkout: generates the tables too

E2E = {
    "setup_s": "s",
    "ops_per_min": "1/min",
    "op_p50_ms": "ms",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.cold_start_s": "s",
    "build.wall_s": "s",
    "build.jobs": "count",
    "build.exec_run_s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "sink.wall_s": "s",
    "sink.jobs": "count",
    "sink.stages": "count",
    "sink.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "sched.overhead_s": "s",
    "scan.input_bytes": "B",
    "scan.input_rows": "count",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "spill.bytes": "B",
    "artifacts.build_s": "s",
    "artifacts.built_timed": "count",
    "cache.mem_bytes": "B",
    "serve.map_p50_ms": "ms",
    "serve.predict_p50_ms": "ms",
    "serve.map_engine_ms": "ms",
    "serve.map_render_ms": "ms",
    "serve.map_rows": "count",
    "serve.predict_engine_ms": "ms",
    "serve.shell_ms": "ms",
    "serve.jobs_per_request": "count",
    "warmup.passes": "count",
    "warmup.steady": "1",
    "mem.peak_rss_mb": "MB",
    "trace.overhead_frac": "1",
    "ops_failed_frac": "1",
}


def _meminfo_kb(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def pin_settings(work: str) -> dict[str, str]:
    """The deployment settings, derived from host facts and exported
    through the environment variables the package already reads."""
    cores = len(os.sched_getaffinity(0))
    heap_mb = min(4096, _meminfo_kb("MemTotal") // 1024 // 4)
    settings = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # Python workers (pandas UDFs) import the package by name
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        # the launcher JVM that spark-submit starts would write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": os.path.join(work, "tmp"),
        "NTIS_ARTIFACT_DIR": os.path.join(work, "artifacts"),
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[k], exist_ok=True)
    os.environ.update(settings)
    return settings


def peak_rss_mb() -> float:
    """The JVM's VmHWM plus this interpreter's max RSS."""
    from pyspark import SparkContext

    jvm_kb = 0
    gw = SparkContext._gateway
    if gw is not None:
        with open(f"/proc/{gw.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def stop_jvm() -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit; the JVM ends when its stdin closes."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is being torn down anyway
        pass
    proc = gw.proc
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - last resort
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _on_alarm(signum, frame):
    raise TimeoutError("benchmark run exceeded its time budget")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="input scale factor")
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "nyc_traffic_insight_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "tests", "oracle_utils.py"))
    ):
        print(f"run.py: the package is not under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    import datagen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    steal0 = _steal_jiffies()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    results = os.path.join(HERE, ".results")
    signal.signal(signal.SIGALRM, _on_alarm)
    data_root = os.path.join(HERE, ".data")
    fresh = not os.path.isdir(data_root)
    signal.alarm(BUILD_BUDGET_S if fresh else RUN_BUDGET_S)
    settings = pin_settings(work)
    run = workloads.Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        traced=bool(args.trace),
        sf_dir=datagen.ensure_tables(data_root, args.sf, DATA_SEED),
        work_dir=work,
        cores=int(settings["SPARK_GRAFT_CPUS"]),
    )
    run.mark("start")
    try:
        workloads.run_workload(run)
        run.layer["mem.peak_rss_mb"] = peak_rss_mb()
    except Exception:
        import traceback

        traceback.print_exc()
        return 1
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        signal.alarm(0)

    elapsed = time.perf_counter() - t_start
    host = {
        "nproc": os.cpu_count(),
        "affinity_cpus": int(settings["SPARK_GRAFT_CPUS"]),
        "mem_total_kb": _meminfo_kb("MemTotal"),
        "steal_jiffies": _steal_jiffies() - steal0,
        "steal_frac": (_steal_jiffies() - steal0)
        / (os.sysconf("SC_CLK_TCK") * elapsed * (os.cpu_count() or 1)),
        "loadavg": os.getloadavg(),
    }
    run.layer["artifacts.build_s"] = sum(t for _, t in run.artifact_builds)
    run.layer["ops_failed_frac"] = run.failed / max(1, run.attempted)
    os.makedirs(results, exist_ok=True)
    latest0 = os.path.join(results, f"{args.workload}-latest-trace0.json")
    if run.traced and os.path.exists(latest0):
        with open(latest0) as f:
            base = json.load(f)["e2e"]["op_p50_ms"]
        run.layer["trace.overhead_frac"] = run.e2e["op_p50_ms"] / base - 1.0
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": args.sf, "elapsed_s": elapsed,
        "settings": settings, "host": host, "e2e": run.e2e, "layer": run.layer,
        "attempted": run.attempted, "failed": run.failed, "failures": run.failures,
        "marks": run.marks, "artifact_builds": run.artifact_builds, "spans": run.spans,
    }
    side = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(side, "w") as f:
        json.dump(record, f, indent=1, default=str)
    if not run.traced:
        shutil.copyfile(side, latest0)
    for msg in run.failures[:20]:
        print(f"FAILED {msg}", file=sys.stderr)

    table = PER_LAYER if run.traced else E2E
    source = run.layer if run.traced else run.e2e
    metrics = {k: {"value": float(source.get(k, 0.0)), "unit": u} for k, u in table.items()}
    print(json.dumps({"run": {"settings": settings, "host": host, "sidecar": side}}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
