"""Measured scaling evidence: headline queries at two scale factors.

SCALE.md argues per-family that every catalog plan survives a 100×
scale-up; this tool MEASURES the first decade of that claim. Each
headline query runs at two SFs (default 0.01 → 0.1, a 10× row-count
step on every fact table) and the sweep reports, per query:

  wall ratio   = median wall(sf_hi) / median wall(sf_lo)
  bytes ratio  = shuffle-write bytes(sf_hi) / bytes(sf_lo)

against the 10× data ratio. Reading the ratios:
  - wall/bytes ratio <= data ratio: at-most-linear — the plan's work is
    proportional to input (or better: constant-bounded aggregates,
    broadcast dims, fixed top-k). Survives scale-up.
  - ratio >> data ratio: super-linear — the red flag this tool exists
    to catch (quadratic candidate generation, shrinking window frames,
    re-inlined CTE scans). join_asof_nearest's O(n²) frame (66 s at
    sf0.1, fixed round 6) would have shown wall ratio ≈ 400 here.

Caveats printed with the table:
  - At these SFs per-query wall has a fixed scheduling/codegen floor of
    ~0.1-0.3 s, so CHEAP queries read sublinear (ratio << 10) — that is
    overhead amortizing, not magic. The signal is the flag column.
  - Shuffle bytes of 0 at both SFs means the plan moves no data
    (map-only or broadcast-only); the ratio is reported as "-".
    Bytes are the median per rep of the query's own job groups
    (bench.measure); a session without a UI reports them as "n/a".

Usage:
  python tools/scaling_sweep.py [--lo /root/testdata/sf0.01]
      [--hi /root/testdata/sf0.1] [--reps 3] [--only a,b,c]
      [--threshold 1.5] [--replicate table=K[:perturbed]] [--row-groups N]

Input transforms. With ``--replicate`` or ``--row-groups`` the sweep
derives its high input from ``--lo``: ``--hi`` names a NEW directory
(an existing one is refused, so a real table is never overwritten),
the derived tables are written there, every other table is a symlink
into ``--lo``, and the data ratio is K (1 for ``--row-groups``). The
directory stays, so the same input feeds ``python -m
nyc_traffic_insight_spark run <q> [--explain] --sf-dir <dir>`` and
``tools/verify_rotation.py <dir> --only <q>`` afterwards.

  --replicate documents=K    K copies of documents, doc_ids offset by
                             ID_OFFSET per replica (dup-heavy, vocab
                             constant); ``:perturbed`` suffixes every
                             word of replicas 1.. with the replica index
                             (vocab grows with the corpus).
  --replicate embeddings=K   K copies of embeddings, vec_ids offset the
                             same way; ``:perturbed`` scales every
                             component of replicas 1.. by a deterministic
                             factor in [0.9, 1.1].
  --row-groups N             lineitem and orders rewritten as N row
                             groups: the row-group count is a parquet
                             scan's split unit, so this is the
                             cluster-shaped layout of the same rows.

Super-linear flag: wall ratio > data_ratio * threshold AND the high-SF
wall is above 1.0 s (so a 0.1 s → 0.4 s floor wobble can't flag).
Exit status 1 if any query flags, else 0 — suitable as a round ritual
next to tools/verify_rotation.py.

Output: a markdown table (stdout) and one final JSON line; merge the
table into SCALE.md's "Measured scaling" section when re-recording.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402  (repo-root bench.py: HEADLINE + measure)
from nyc_traffic_insight_spark.queries import load_all  # noqa: E402
from nyc_traffic_insight_spark.session import (  # noqa: E402
    clear_session_caches,
    get_spark,
)
from nyc_traffic_insight_spark.sources import load_table  # noqa: E402

ID_OFFSET = 1_000_000  # > max sf0.1 doc_id and vec_id; keeps replica ids disjoint
ID_COLUMN = {"documents": "doc_id", "embeddings": "vec_id"}
ROW_GROUP_TABLES = ("lineitem", "orders")


def _sf_of(path: str) -> float:
    return float(os.path.basename(os.path.normpath(path)).replace("sf", ""))


def _replication(arg: str) -> tuple[str, int, bool]:
    """``table=K[:perturbed]`` -> (table, K, perturbed)."""
    table, _, spec = arg.partition("=")
    k, _, variant = spec.partition(":")
    if table not in ID_COLUMN or not k.isdigit() or int(k) < 1 or variant not in (
            "", "perturbed"):
        raise argparse.ArgumentTypeError(
            f"want {'|'.join(ID_COLUMN)}=K[:perturbed], got {arg!r}")
    return table, int(k), variant == "perturbed"


def replicate(spark, src: str, dst: str, table: str, k: int, perturbed: bool) -> None:
    """Write ``k`` copies of ``src``'s ``table`` into ``dst``, ids offset
    by ``ID_OFFSET`` per replica; replica 0 is the base table. Perturbed
    replicas 1.. salt every word with the replica index (documents,
    ``n_chars`` recomputed) or scale every embedding component by
    1 + ((vec_id*131 + pos*17 + k*7919) mod 2001 - 1000) * 1e-4."""
    key = ID_COLUMN[table]
    reps = spark.range(k).withColumnRenamed("id", "k")
    rep = (
        spark.read.parquet(os.path.join(src, f"{table}.parquet"))
        .crossJoin(F.broadcast(reps))
        .withColumn(key, F.col(key) + F.col("k") * ID_OFFSET)
    )
    if table == "documents":
        if perturbed:
            salted = F.array_join(F.transform(
                F.split(F.trim("text"), r"\s+"),
                lambda w: F.concat(w, F.lit("_"), F.col("k").cast("string"))), " ")
            rep = rep.withColumn("text", F.when(F.col("k") == 0, F.col("text")).otherwise(salted))
        rep = rep.withColumn("n_chars", F.length("text").cast("long"))
    elif perturbed:
        jittered = F.transform(
            F.col("embedding"),
            lambda x, i: (
                x * (1.0 + ((F.col("vec_id") * 131 + i * 17 + F.col("k") * 7919) % 2001
                            - 1000).cast("double") * 1e-4)
            ).cast("float"),
        )
        rep = rep.withColumn(
            "embedding", F.when(F.col("k") == 0, F.col("embedding")).otherwise(jittered))
    rep.drop("k").repartition(8).write.parquet(os.path.join(dst, f"{table}.parquet"))


def derive(spark, lo: str, hi: str, replication, row_groups: int | None) -> None:
    """Write the transformed tables into the new directory ``hi`` and
    link every other table of ``lo`` there."""
    os.makedirs(hi)
    if replication:
        replicate(spark, lo, hi, *replication)
    for name in ROW_GROUP_TABLES if row_groups else ():
        load_table(spark, lo, name).repartition(row_groups).write.parquet(
            os.path.join(hi, f"{name}.parquet"))
    for entry in set(os.listdir(lo)) - set(os.listdir(hi)):
        os.symlink(os.path.abspath(os.path.join(lo, entry)), os.path.join(hi, entry))


def _bytes(n: int | None) -> str:
    return "n/a" if n is None else f"{n:,}"


def _measure(spark, specs, names, sf_dir, reps):
    """Median wall + median per-rep shuffle-write bytes (None without a
    UI) for each query at one SF."""
    out = {}
    for name in names:
        m = bench.measure(
            spark, name, lambda: specs[name].builder(spark, sf_dir), reps
        )
        b = m["shuffle_w"]
        out[name] = {
            "wall": statistics.median_high(m["walls"]),
            "bytes": None if b is None else statistics.median_high(b),
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--lo", default="/root/testdata/sf0.01")
    ap.add_argument("--hi", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--only", type=lambda s: s.split(","), default=None, metavar="a,b,c"
    )
    ap.add_argument(
        "--threshold", type=float, default=1.5,
        help="flag when wall ratio exceeds data_ratio * threshold",
    )
    ap.add_argument(
        "--replicate", type=_replication, metavar="table=K[:perturbed]",
        help="derive --hi: K copies of documents or embeddings",
    )
    ap.add_argument(
        "--row-groups", type=int, metavar="N",
        help="derive --hi: lineitem and orders as N row groups",
    )
    args = ap.parse_args()
    if args.row_groups is not None and args.row_groups < 1:
        ap.error("--row-groups must be at least 1")
    transform = args.replicate or args.row_groups
    if transform and os.path.exists(args.hi):
        ap.error(f"--hi {args.hi} exists; a transform writes a new directory")

    spark = get_spark(
        app_name="ntis-scaling-sweep",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if transform:
        derive(spark, args.lo, args.hi, args.replicate, args.row_groups)
        data_ratio = args.replicate[1] if args.replicate else 1
    else:
        data_ratio = _sf_of(args.hi) / _sf_of(args.lo)
    specs = load_all()
    names = args.only or list(bench.HEADLINE)

    lo = _measure(spark, specs, names, args.lo, args.reps)
    hi = _measure(spark, specs, names, args.hi, args.reps)

    flagged = []
    rows = []
    for name in names:
        wall_ratio = hi[name]["wall"] / max(lo[name]["wall"], 1e-9)
        if lo[name]["bytes"] is None:
            bytes_ratio = "n/a"  # no UI: walls only
        elif lo[name]["bytes"] > 0:
            bytes_ratio = f"{hi[name]['bytes'] / lo[name]['bytes']:.1f}x"
        elif hi[name]["bytes"] > 0:
            bytes_ratio = "new"  # shuffle appeared only at the high SF
        else:
            bytes_ratio = "-"
        flag = (
            wall_ratio > data_ratio * args.threshold
            and hi[name]["wall"] > 1.0
        )
        if flag:
            flagged.append(name)
        rows.append(
            f"| {name} | {lo[name]['wall']:.3f} | {hi[name]['wall']:.3f} "
            f"| {wall_ratio:.1f}x | {_bytes(lo[name]['bytes'])} "
            f"| {_bytes(hi[name]['bytes'])} | {bytes_ratio} "
            f"| {'SUPER-LINEAR' if flag else 'ok'} |"
        )

    clear_session_caches(spark)

    print(
        f"\nData ratio {data_ratio:.0f}x ({args.lo} -> {args.hi}); "
        f"flag = wall ratio > {data_ratio * args.threshold:.0f}x "
        f"and hi wall > 1 s. Sub-{data_ratio:.0f}x wall ratios on cheap "
        f"queries are the fixed per-query floor amortizing, not sub-linear "
        f"compute."
    )
    print(
        "\n| query | wall lo (s) | wall hi (s) | wall ratio "
        "| bytes lo | bytes hi | bytes ratio | verdict |"
    )
    print("|---|---:|---:|---:|---:|---:|---:|---|")
    for r in rows:
        print(r)
    print()
    print(
        json.dumps(
            {
                "metric": "scaling_sweep",
                "cpus": spark.sparkContext.defaultParallelism,
                "data_ratio": data_ratio,
                "flagged": flagged,
                "queries": {
                    n: {
                        "wall_lo": round(lo[n]["wall"], 3),
                        "wall_hi": round(hi[n]["wall"], 3),
                        "bytes_lo": lo[n]["bytes"],
                        "bytes_hi": hi[n]["bytes"],
                    }
                    for n in names
                },
            }
        )
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
