"""The session-state seam in ``session.py``: its cluster-profile branch
and its host-derived defaults.

- ``materialize`` takes the reliable ``checkpoint()`` branch when the
  session has a checkpoint dir: every rewritten materialization site
  writes its checkpoint files there, and the queries built on them
  still match their DuckDB oracles;
- with ``SPARK_GRAFT_CPUS`` unset, the default ``local[N]`` is the
  host's usable core count (what ``nproc`` reports), not a fixed 32;
- the package registers no temp view and sets no conf: builders hand
  frames to SQL as ``spark.sql(text, name=frame)``, and session confs
  are set only by ``get_spark``.
"""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys

import pytest

from nyc_traffic_insight_spark.queries import load_all
from tests.conftest import SF_ORACLE
from tests.oracle_utils import compare

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# each builds on at least one ``materialize`` site
_CHECKPOINTED = [
    "funnel_conversion",
    "agg_wau_exact",
    "pipeline_unimax_corpus",
    "pipeline_pretrain_order",
    "bpe_encode_top_tokens",
]


def test_checkpoint_dir_branch_matches_oracles(spark, duck, tmp_path):
    specs = load_all()
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path))
    try:
        for name in _CHECKPOINTED:
            before = set(tmp_path.rglob("rdd-*"))
            spec = specs[name]
            got = spec.builder(spark, SF_ORACLE).toPandas()
            assert set(tmp_path.rglob("rdd-*")) - before, (
                f"{name} wrote no reliable checkpoint"
            )
            compare(got, duck.sql(spec.oracle).df(), name)
    finally:
        unset = sc._jvm.scala.Option.apply(None)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(unset)
    assert sc.getCheckpointDir() is None


@pytest.mark.parametrize("env_cpus", [None, "3"])
def test_default_cpus_follow_host(env_cpus):
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")
    }
    if env_cpus is not None:
        env["SPARK_GRAFT_CPUS"] = env_cpus
        env["SPARK_DRIVER_MEMORY"] = f"{env_cpus}g"
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from nyc_traffic_insight_spark.session import"
            " DEFAULT_CPUS, DEFAULT_DRIVER_MEMORY;"
            "print(DEFAULT_CPUS, DEFAULT_DRIVER_MEMORY)",
        ],
        cwd=_REPO,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    assert out == (
        [env_cpus, f"{env_cpus}g"]
        if env_cpus
        else [str(len(os.sched_getaffinity(0))), f"{mem_kb // 1024 // 4}m"]
    )


def test_package_mutates_no_session_state():
    pattern = re.compile(r"createOrReplaceTempView|dropTempView|spark\.conf\.set\(")
    package = pathlib.Path(_REPO, "nyc_traffic_insight_spark")
    hits = [
        f"{path.relative_to(_REPO)}:{i}"
        for path in sorted(package.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == []
