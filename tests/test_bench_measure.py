"""bench.measure: the one timing path of bench.py and the tools' sweeps
and probes.

With a UI, each rep's bytes are the sums over its own ``<label>#build``
and ``<label>#sink`` job groups, so two measurements of the same label in
one fresh session must read the same per-rep bytes: a collision between
the calls' group keys would double the second call's bytes, and a
session cache filled inside rep 1 instead of in measure's own
``<label>#warm`` rep would show as a larger first count
(sim_search_ivf_topk's IVF centroids at sf0.01).  No job may run
outside a group.  The status REST API needs a UI-enabled session,
which the shared fixture session is not, so that half runs in a
subprocess; without a UI the byte fields are None.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from nyc_traffic_insight_spark.queries import load_all
from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_MID = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
sys.path.insert(0, ROOT)

import bench  # noqa: E402

_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
import bench
from nyc_traffic_insight_spark.queries import load_all
from nyc_traffic_insight_spark.session import get_spark
from perfbench.jobtrace import ungrouped_job_ids

spark = get_spark(
    app_name="ntis-measure-test", master="local[2]", shuffle_partitions=8,
    extra_conf={"spark.ui.enabled": "true",
                "spark.ui.showConsoleProgress": "false"},
)
sc = spark.sparkContext
build = lambda: load_all()[sys.argv[2]].builder(spark, sys.argv[3])
before = sorted(ungrouped_job_ids(sc))
runs = [bench.measure(spark, sys.argv[2], build, reps=2) for _ in range(2)]
after = sorted(ungrouped_job_ids(sc))
spark.stop()
print(json.dumps({"runs": runs, "before": before, "after": after}))
"""


@pytest.mark.parametrize(
    "query, sf_dir",
    [
        ("join_traffic_weather_boro", SF_SMOKE),
        ("sim_search_ivf_topk", SF_MID),
    ],
    ids=["join_traffic_weather_boro", "sim_search_ivf_topk"],
)
def test_measure_attributes_bytes_per_rep_by_job_group(query, sf_dir):
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, ROOT, query, sf_dir],
        capture_output=True, text=True, timeout=240, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    shuffle = [b for run in rec["runs"] for b in run["shuffle_w"]]
    assert len(shuffle) == 4
    assert shuffle[0] > 0 and len(set(shuffle)) == 1, shuffle
    assert all(w > 0 for run in rec["runs"] for w in run["walls"])
    assert rec["after"] == rec["before"], "a job ran outside its job group"


def test_measure_without_ui_returns_walls_only(spark):
    assert spark.sparkContext.uiWebUrl is None
    spec = load_all()["agg_count"]
    m = bench.measure(spark, "agg_count", lambda: spec.builder(spark, SF_SMOKE), reps=2)
    assert m["shuffle_w"] is None and m["spill"] is None
    assert len(m["walls"]) == 2 and all(w > 0 for w in m["walls"])
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
