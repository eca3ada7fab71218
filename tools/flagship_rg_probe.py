"""Flagship scan-parallelism probe (VERDICT r15 #10 evidence).

The sf0.1 lineitem/orders fixtures are ONE parquet row group each, so
flagship_volume_features' scan+join+partial-aggregate stage runs in
one task locally no matter the core count — the r15 widening A/B was
NEUTRAL-to-worse because a forced exchange costs more than the 600k-row
serial scan it parallelizes. This probe writes a CLUSTER-SHAPED copy
of the same rows (32 files => 32 row groups, the layout any real table
has at scale) and re-times the UNCHANGED query on it, at 32 and 8
cores, so the scale-regime story in SCALE.md carries measured numbers:
row-group sizing upstream, not a repartition-after-scan in the query,
is the 100 TB lever.

Usage: python tools/flagship_rg_probe.py [--cores N] [--variant rg32|single]
(--cores defaults to the session's own core count). Times 5 reps with
bench.measure and prints one line: {"variant", "cores", "median_s", "reps"}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_BASE = "/root/testdata/sf0.1"
SCRATCH = f"/tmp/ntis_rg_probe_{os.getuid()}"


def build_rg32(spark) -> str:
    out = os.path.join(SCRATCH, "rg32")
    marker = os.path.join(out, "_done")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    from nyc_traffic_insight_spark.sources import load_table

    for name in ("lineitem", "orders"):
        (
            load_table(spark, SF_BASE, name)
            .repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"{name}.parquet"))
        )
    open(marker, "w").close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--variant", choices=["rg32", "single"], default="rg32")
    args = ap.parse_args()

    import bench
    from nyc_traffic_insight_spark.session import get_spark

    spark = get_spark(master=f"local[{args.cores}]" if args.cores else None)
    from nyc_traffic_insight_spark.plans.flagship import flagship_volume_features

    sf_dir = build_rg32(spark) if args.variant == "rg32" else SF_BASE

    def build():
        return flagship_volume_features(spark, sf_dir)

    # cold-session JIT dominates the first runs: three passes here plus
    # measure's own warm rep
    for _ in range(3):
        bench.consume(build())
    walls = bench.measure(spark, f"flagship_rg_{args.variant}", build, 5)["walls"]
    print(
        json.dumps(
            {
                "variant": args.variant,
                "cores": spark.sparkContext.defaultParallelism,
                "median_s": round(statistics.median(walls), 3),
                "reps": [round(w, 3) for w in walls],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
