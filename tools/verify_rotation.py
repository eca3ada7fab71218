"""Driver-style local verification of the catalog.

Runs each registered query in registry order, which is the derived
check rotation (``queries/rotation.py``: queries changed since their
last correctness PASS first), the way the sf=0.01 correctness gate
does — build the Spark DataFrame and execute every partition
(``toPandas``), run the DuckDB oracle on the same parquet tables,
compare row count + column names + order-insensitive values — and
prints one PASS/FAIL/NO_ORACLE line per query with the Spark and
oracle walls. The 20 slowest queries (both sides) follow on stderr:
the budget read for the gate's front-of-registry window, and the
triage step before chasing a slow-looking sweep wall (only ``spark=``
is engine time).

The session must run ANSI semantics (Spark 4's default): overflow,
div-by-zero and invalid casts then raise instead of returning null, so
a full run is also the ANSI execution sweep over every branch the data
reaches. The tool refuses to run a non-ANSI session.

Usage:  python tools/verify_rotation.py [sf_dir] [--limit N] [--only a,b,c]

Exit status 1 if any query FAILs (build error or mismatch), else 0.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_traffic_insight_spark.queries import load_all  # noqa: E402
from nyc_traffic_insight_spark.session import get_spark  # noqa: E402
from tests.oracle_utils import compare, duck_connect  # noqa: E402


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(
        description="Driver-style local verification of the catalog."
    )
    ap.add_argument(
        "sf_dir", nargs="?", default="/root/testdata/sf0.01",
        help="parquet table directory (default sf0.01)",
    )
    ap.add_argument(
        "--limit", type=int, default=None,
        help="check only the first N registry entries",
    )
    ap.add_argument(
        "--only", type=lambda s: s.split(","), default=None,
        metavar="a,b,c", help="check only the named queries",
    )
    args = ap.parse_args()
    sf_dir, limit, only = args.sf_dir, args.limit, args.only

    spark = get_spark(app_name="ntis-verify-rotation")
    spark.sparkContext.setLogLevel("ERROR")
    # a real raise, not assert: python -O strips asserts, and a run that
    # silently went non-ANSI would record a guarantee it never checked
    if spark.conf.get("spark.sql.ansi.enabled") != "true":
        raise RuntimeError("session is not ANSI — the run would prove nothing")
    con = duck_connect(sf_dir)

    specs = load_all()
    names = only if only else (list(specs)[:limit] if limit else list(specs))
    n_fail = 0
    walls: dict[str, tuple[float, float]] = {}
    for name in names:
        spec = specs.get(name)
        if spec is None:
            print(f"{name:38s} FAIL unknown query")
            n_fail += 1
            continue
        t0 = time.perf_counter()
        try:
            spdf = spec.builder(spark, sf_dir).toPandas()
        except Exception:
            print(f"{name:38s} FAIL build error")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        t_spark = time.perf_counter() - t0
        if spec.oracle is None:
            walls[name] = (t_spark, 0.0)
            print(f"{name:38s} NO_ORACLE rows={len(spdf)} spark={t_spark:.2f}s")
            continue
        try:
            t1 = time.perf_counter()
            odf = con.execute(spec.oracle).fetchdf()
            walls[name] = (t_spark, time.perf_counter() - t1)
            compare(spdf, odf, name)
        except AssertionError as ex:
            print(f"{name:38s} FAIL {str(ex)[:160]}")
            n_fail += 1
            continue
        except Exception:
            print(f"{name:38s} FAIL oracle error")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        print(
            f"{name:38s} PASS rows={len(spdf)} "
            f"spark={t_spark:.2f}s oracle={walls[name][1]:.2f}s"
        )
    print(f"-- {n_fail} failed of {len(names)}")
    total = sum(s + o for s, o in walls.values())
    print(f"\nTOTAL {total:.1f}s over {len(walls)} queries", file=sys.stderr)
    for name, (s, o) in sorted(walls.items(), key=lambda kv: -sum(kv[1]))[:20]:
        print(f"  {name:38s} spark={s:7.2f} oracle={o:7.2f}", file=sys.stderr)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
