"""Job-group tracing for the benchmark's traced runs.

Every op runs under two Spark job groups, ``<op>#build`` around the
builder call and ``<op>#sink`` around the noop sink; the group's
description carries the pass (``p<k>``), so a (group, description) pair
names exactly one execution.  Spans are timed here and kept in memory;
job, stage and task metrics are read once, at the end of the run, from
Spark's status REST API (the UI is enabled only in traced runs) and
joined to the spans by job group.  A job group cannot pick up another
op's late-posting metrics, so no settle-poll per op is needed.

Catalyst phases: a DataFrame's own ``queryExecution().tracker()`` holds
only its analysis phase after a noop write, because the write runs its
command through a second QueryExecution with a private tracker that no
public API exposes.  ``force_plan_phases`` therefore drives the
DataFrame's own QueryExecution through ``optimizedPlan`` and
``executedPlan`` after the sink has returned (outside the timed span) and
reads the optimization and planning durations from its tracker: the same
logical plan through the same rule batches the sink ran.  For a
``collect()`` (the serving path) the action runs on the DataFrame's own
QueryExecution, so all three phases are read directly.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict

PHASES = ("analysis", "optimization", "planning")


def untag(sc) -> None:
    """Clear the job group ``SparkContext.setJobGroup`` set on this thread."""
    sc._jsc.clearJobGroup()


def tracker_phases(df) -> dict[str, float]:
    """Phase name → ms recorded so far in the DataFrame's own tracker."""
    ph = df._jdf.queryExecution().tracker().phases()
    return {k: float(ph.get(k).get().durationMs()) for k in PHASES if ph.contains(k)}


def force_plan_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning ms for ``df``'s plan (see the
    module docstring for why optimization and planning are re-driven)."""
    qe = df._jdf.queryExecution()
    qe.optimizedPlan()
    qe.executedPlan()
    out = tracker_phases(df)
    return {k: out.get(k, 0.0) for k in PHASES}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def read_status(ui_url: str, settle_s: float = 15.0) -> tuple[list, list]:
    """All jobs and stage attempts of the running application, read after
    the listener bus has drained (job count stable and no job running)."""
    app = _get(f"{ui_url}/api/v1/applications")[0]["id"]
    base = f"{ui_url}/api/v1/applications/{app}"
    deadline = time.monotonic() + settle_s
    last = -1
    while True:
        jobs = _get(f"{base}/jobs")
        running = any(j["status"] == "RUNNING" for j in jobs)
        if (len(jobs) == last and not running) or time.monotonic() > deadline:
            break
        last = len(jobs)
        time.sleep(0.3)
    return jobs, _get(f"{base}/stages")


_STAGE_SUMS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "in_bytes": "inputBytes",
    "in_rows": "inputRecords",
    "shuffle_w": "shuffleWriteBytes",
    "shuffle_r": "shuffleReadBytes",
    "spill": "diskBytesSpilled",
}


def attribute(jobs: list, stages: list) -> dict[tuple[str, str], dict]:
    """(job group, description) → summed job/stage/task metrics."""
    by_stage = defaultdict(list)
    for s in stages:
        if s.get("status") == "COMPLETE":
            by_stage[s["stageId"]].append(s)
    out: dict[tuple[str, str], dict] = {}
    seen: set[int] = set()
    # a stage reused by a later job is listed by both; the first owns it
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        sids = [sid for sid in j.get("stageIds", []) if sid not in seen]
        seen.update(sids)
        g = j.get("jobGroup")
        if not g:
            continue
        rec = out.setdefault(
            (g, j.get("description", "")),
            {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0 for k in _STAGE_SUMS}},
        )
        rec["jobs"] += 1
        for sid in sids:
            for s in by_stage.get(sid, []):
                rec["stages"] += 1
                rec["tasks"] += s.get("numCompleteTasks", 0)
                for k, field in _STAGE_SUMS.items():
                    rec[k] += s.get(field, 0)
    return out


def ungrouped_job_ids(sc) -> set[int]:
    """Ids of the jobs the status store holds that carry no job group —
    the serving path's jobs, which run on the server's handler threads."""
    return set(sc._jsc.sc().statusTracker().getJobIdsForGroup(None))


def cached_bytes(sc) -> int:
    """Bytes of cached/checkpointed RDD blocks held in executor memory."""
    return sum(int(i.memSize()) for i in sc._jsc.sc().getRDDStorageInfo())
