"""r16 third-level assignment probe (VERDICT r15 #9 evidence).

Replicates the sf0.1 embeddings 100x (jitter variant, deterministic —
tools/docs_decade_probe.build_emb_corpus) to 200k vectors, where the
scale-k index reaches m = 100 and the r16 third assignment level
engages. Measures dedup_semantic median-of-3 noop-sink wall through
bench.measure with

- L3 (current code: nearest label -> nearest mid-rep -> nearest
  sub-cell, 10 + 2*ceil(sqrt(m)) scored centroids per vector), and
- L2 (the r15 two-level shape, forced by raising the gate in-process:
  10 + m scored centroids per vector),

plus the 20k corpus (m = 10, gate dormant -> L2 == L3 by construction)
as the flat-decade reference. Optionally (--oracle) runs the DuckDB
three-level oracle chain on the 200k corpus and sorted-compares it to
the Spark output — the cross-engine check at the scale the driver's
gate can never reach.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from nyc_traffic_insight_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--oracle", action="store_true")
    ap.add_argument("--skip-20k", action="store_true")
    args = ap.parse_args()

    spark = get_spark()
    from tools.docs_decade_probe import build_emb_corpus

    import nyc_traffic_insight_spark.queries.embcurate as ec

    def frame(sf_dir):
        return ec.semdedup_frame(
            ec._embs(spark, sf_dir),
            ec._semdedup_index(spark, sf_dir),
            ec._SEMDEDUP_THRESH,
        )

    results = {}

    def timed(key, sf_dir):
        m = bench.measure(spark, f"l3probe_{key}", lambda: frame(sf_dir))
        results[key] = round(statistics.median(m["walls"]), 2)
        print(f"{key}:", results[key], "s", flush=True)

    if not args.skip_20k:
        d20 = build_emb_corpus(spark, "jitter", 10)
        timed("20k_m10", d20)  # m = 10: L2 == L3

    d200 = build_emb_corpus(spark, "jitter", 100)
    timed("200k_L3", d200)

    gate = ec._SEMDEDUP_L3_MIN_M
    ec._SEMDEDUP_L3_MIN_M = 10**9  # force the r15 two-level shape
    try:
        timed("200k_L2", d200)
    finally:
        ec._SEMDEDUP_L3_MIN_M = gate

    if args.oracle:
        from tests.oracle_utils import compare, duck_connect

        got = frame(d200).toPandas()
        con = duck_connect(d200)
        try:
            t0 = time.perf_counter()
            want = con.sql(ec.dedup_semantic_oracle_sql()).df()
            print(f"duckdb oracle: {time.perf_counter() - t0:.1f} s", flush=True)
        finally:
            con.close()
        compare(got, want, "dedup_semantic[200k,L3]")
        print("200k cross-engine: MATCH", flush=True)

    print(results)
    return 0


if __name__ == "__main__":
    sys.exit(main())
