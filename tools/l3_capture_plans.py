"""Capture dedup_semantic's formatted plans at the 200k probe scale:
the r15 two-level shape (gate forced high) vs the r16 three-level
shape — plans/r16/dedup_semantic_l3_200k_{before,after}.txt. At every
driver-visible SF m = 1 and the plans are byte-identical by
construction (the L3 branch never engages); this is the shape evidence
for the scale the gate cannot reach."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_traffic_insight_spark.session import get_spark  # noqa: E402


def main() -> int:
    spark = get_spark()
    from tools.docs_decade_probe import build_emb_corpus

    import nyc_traffic_insight_spark.queries.embcurate as ec

    d200 = build_emb_corpus(spark, "jitter", 100)

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    def plan() -> str:
        df = ec.semdedup_frame(
            ec._embs(spark, d200),
            ec._semdedup_index(spark, d200),
            ec._SEMDEDUP_THRESH,
        )
        return df._jdf.queryExecution().explainString(mode)

    def elide(txt: str) -> str:
        # The m=100 index literals are ~1.8 MB each inside their
        # plan lines; keep the plan structure readable (and the repo
        # small) by eliding any literal-bearing line's middle. The
        # elision is explicit and size-stamped so the file still
        # evidences the literal's presence and scale.
        out_lines = []
        for ln in txt.splitlines():
            if len(ln) > 2000:
                ln = (
                    ln[:600]
                    + f" <...{len(ln) - 900} chars elided...> "
                    + ln[-300:]
                )
            out_lines.append(ln)
        return "\n".join(out_lines) + "\n"

    out = os.path.join(os.path.dirname(os.path.dirname(__file__)), "plans", "r16")
    gate = ec._SEMDEDUP_L3_MIN_M
    ec._SEMDEDUP_L3_MIN_M = 10**9
    try:
        before = plan()
    finally:
        ec._SEMDEDUP_L3_MIN_M = gate
    after = plan()
    with open(os.path.join(out, "dedup_semantic_l3_200k_before.txt"), "w") as f:
        f.write(elide(before))
    with open(os.path.join(out, "dedup_semantic_l3_200k_after.txt"), "w") as f:
        f.write(elide(after))
    print("before:", len(before), "chars; after:", len(after), "chars (pre-elision)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
