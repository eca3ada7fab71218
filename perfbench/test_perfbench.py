"""Self-tests of the benchmark's own code, at sf0.001.

    python3 -m pytest perfbench -q

They pin the parts a wrong benchmark would get silently wrong: failure
accounting, seed determinism, the tail-percentile sample rule, the result
line's metric set, and the refusal to run without the package.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import warnings

import pytest

import datagen
import loadgen
import run as bench
import workloads as W

ROOT = bench.ROOT
SF = 0.001


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _bench(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(bench.HERE, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )


def test_tail_rule():
    assert W.tail_supported(200, 0.95)
    assert not W.tail_supported(199, 0.95)
    assert W.tail_supported(100, 0.90)


def test_kind_p50_averages_per_kind_medians():
    assert W.kind_p50({"map": [1.0, 2.0, 9.0], "predict": [10.0, 20.0], "none": []}) == 8.5


def test_seed_fixes_every_input():
    ops = W.CORPUS_COMPOSE
    assert W.pass_orders(ops, 7, 5) == W.pass_orders(ops, 7, 5)
    assert W.pass_orders(ops, 7, 5) != W.pass_orders(ops, 8, 5)
    assert W.predict_pool(7) == W.predict_pool(7) != W.predict_pool(8)
    seq = loadgen.request_sequence("measure-7", 5, 4, 40)
    assert seq == loadgen.request_sequence("measure-7", 5, 4, 40)
    assert [r for r, _ in seq].count("map") == 20
    a, b = datagen.generate(SF, 3), datagen.generate(SF, 3)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)


def test_predict_pool_matches_model_features():
    from nyc_traffic_insight_spark.ml.pipelines import FEATURES

    assert all(sorted(v) == sorted(FEATURES) for v in W.predict_pool(1))


def test_bad_responses_count_as_failed():
    run = W.Run("serve_http", 1, 1.0, False, "", "", 4)
    recs = [
        {"i": 0, "route": "map", "key": 0, "status": 200, "value": 7},
        {"i": 1, "route": "map", "key": 1, "status": 500, "value": None},
        {"i": 2, "route": "map", "key": 1, "status": 200, "value": 8},
        {"i": 3, "route": "predict", "key": 0, "status": 200, "value": 1.5},
        {"i": 4, "route": "predict", "key": 0, "status": 200, "value": 1.25},
        {"i": 5, "route": "predict", "key": 0, "status": 0, "value": "timeout"},
    ]
    W.check_responses(run, recs, {0: 7, 1: 9}, [1.5])
    assert (run.attempted, run.failed) == (6, 4)


@pytest.fixture(scope="module")
def spark_run(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    settings = bench.pin_settings(work)
    sf_dir = datagen.ensure_tables(str(tmp_path_factory.mktemp("data")), SF, 42)
    run = W.Run("corpus_compose", 1, 1.0, False, sf_dir, work, int(settings["SPARK_GRAFT_CPUS"]))
    run.start_session()
    yield run
    bench.stop_jvm()


def test_wrong_answer_counts_as_failed(spark_run):
    from nyc_traffic_insight_spark.queries import QuerySpec, load_all

    op = "dedup_semantic"
    spec = load_all()[op]
    wrong = QuerySpec(op, lambda s, d: spec.builder(s, d).limit(1), spec.oracle, spec.survey)
    spark_run.attempted = spark_run.failed = 0
    W.check_ops(spark_run, {op: spec}, [op])
    assert (spark_run.attempted, spark_run.failed) == (1, 0), spark_run.failures
    W.check_ops(spark_run, {op: wrong}, [op])
    assert (spark_run.attempted, spark_run.failed) == (2, 1)


def test_metric_tables_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(W.WORKLOADS)


@pytest.mark.parametrize("workload", ["corpus_compose", "serve_http"])
def test_traced_and_untraced_runs(workload):
    for trace, table in ((0, bench.E2E), (1, bench.PER_LAYER)):
        out = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", str(trace), "--sf", str(SF))
        assert out.returncode == 0, out.stderr[-2000:]
        res = _result(out.stdout)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
        assert set(res["metrics"]) == set(table)
    side = os.path.join(bench.HERE, ".results", f"{workload}-seed3-trace1.json")
    with open(side) as f:
        rec = json.load(f)
    if workload == "serve_http":
        for route, ok in rec["spans"][-1]["tail_p95_supported"].items():
            if not ok:
                warnings.warn(f"{route}: too few samples for a p95 with ten beyond it")
    else:
        assert rec["layer"]["artifacts.built_timed"] == 0
        traced = {(s["op"], s["pass"]) for s in rec["spans"] if "planning_ms" in s}
        assert {op for op, _ in traced} == set(W.CORPUS_COMPOSE)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(bench.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".data", ".work", ".results", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_http", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
