"""r16: second single-evaluation sweep — Generate-barrier let-binds.

The r15 lambda-let sweep (tests/test_r15_single_eval.py) missed the
tokenizer-shaped scans: its marker list had no ``split(`` /
``regexp_replace(`` / ``filter(``. The extended tools/expr_dup_sweep.py
(a one-off that counted those markers in every optimized plan of the
registry; since deleted, these pins hold what it found) found three
operators whose O(len) text scans were re-inlined by projection
collapse into every consumer column:

- text_gopher_rules: 41 ``split(`` sites (the `keep` conjunction alone
  re-evaluated all four counts) -> 3;
- text_quality_score: 18 -> 2;
- the LM chain's pairs view: the split+filter tokenize inlined ~5x by
  the pair zip_with's slices -> 1.

The binding uses a GENERATE BARRIER — ``explode(array(struct))`` —
because CollapseProject cannot collapse a Project into a Generate's
input, so the generator output is a bound attribute and downstream
columns are field reads. (The r15 ``transform(array(e), v -> ...)[0]``
idiom binds within ONE expression; the barrier binds across MANY
output columns.) Same rendering-dependence caveat as the r15 pins:
these count substrings of the optimized plan string.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE

pytestmark = pytest.mark.usefixtures("spark")


def test_gopher_scans_single_evaluation(spark):
    from nyc_traffic_insight_spark.queries.textops import text_gopher_rules

    plan = (
        text_gopher_rules(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # toks (x2: size + alpha filter), low_toks (x1) — was 41
    assert plan.count("split(") == 3, plan
    assert plan.count("regexp_replace(") == 1, plan


def test_quality_scans_single_evaluation(spark):
    from nyc_traffic_insight_spark.queries.textops import text_quality_score

    plan = (
        text_quality_score(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # toks (x1: size only), low_toks (x1) — was 18
    assert plan.count("split(") == 2, plan


def test_lm_pairs_view_single_scan(spark):
    import nyc_traffic_insight_spark.queries.tokenizers as tk

    plan = (
        tk._lm_chain(spark, SF_SMOKE, tk._LM_VOCAB)["pairs"]
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the split+filter tokenize appears once — was ~5 (two slices
    # plus the size term behind each slice length)
    assert plan.count("split(") == 1, plan
    assert plan.count("filter(") == 1, plan
