"""Compare two bench runs by EXECUTOR BYTES, not wall time.

Wall time on this box swings ±15-40% run-to-run (NOTES round 4/6);
shuffle-write bytes are byte-stable for an unchanged plan. This tool
makes the standing round ritual — "did the plan move, or just the
box?" — a one-liner:

  python tools/bench_diff.py BENCH_metrics.json /path/to/old_metrics.json

Prints one line per headline query: byte delta (plan signal) alongside
the wall-time ratio (noise context). Exit 1 if any query's shuffle
bytes changed by >1% (a plan change — investigate), else 0. Shuffle
bytes depend on the core count, so two sidecars stamped with different
``cpus`` are refused (exit 2); sidecars without the stamp compare as
before.
"""

from __future__ import annotations

import json
import sys


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    runs = [json.load(open(p)) for p in sys.argv[1:]]
    cpus = [run.get("cpus") for run in runs]
    if None not in cpus and cpus[0] != cpus[1]:
        print(f"-- cpus {cpus[1]} -> {cpus[0]}: not comparable across hosts")
        return 2
    new, old = (run["query_metrics"] for run in runs)
    moved = 0
    for q in sorted(set(new) & set(old)):
        nb, ob = new[q]["shuffle_write_bytes"], old[q]["shuffle_write_bytes"]
        nw = sorted(new[q]["rep_secs"])[len(new[q]["rep_secs"]) // 2]
        ow = sorted(old[q]["rep_secs"])[len(old[q]["rep_secs"]) // 2]
        byte_delta = nb - ob
        flag = ""
        if ob and abs(byte_delta) / ob > 0.01 or (ob == 0) != (nb == 0):
            flag = "  <-- PLAN CHANGED"
            moved += 1
        print(
            f"{q:34s} bytes {ob:>12,} -> {nb:>12,}"
            f"  wall x{nw / ow if ow else float('inf'):.2f}{flag}"
        )
    only = sorted(set(new) ^ set(old))
    if only:
        print(f"-- queries in one run only: {only}")
    print(f"-- {moved} plan-level changes")
    return 1 if moved else 0


if __name__ == "__main__":
    raise SystemExit(main())
