"""Physical-plan audit: scale red flags must not creep into the catalog.

Scans executed plans for the patterns that kill a 100 TB run —
CartesianProduct (unbounded pair blowup), BatchEvalPython (row-at-a-time
Python in the hot path), and unexpected single-partition exchanges
(global sorts/windows over raw facts). Every currently-flagged query is
either a documented brute-force baseline, a broadcast join against a
tiny (k≤10 or 1-row) dimension, or a final one-row aggregate merge — the
whitelist below says which; anything NEW showing a flag fails the test
so plan regressions surface at test time, not in the bench.

Since r13 this gates the ENTIRE registry (VERDICT r12 #3): AUDITED is
derived from load_all(), so a query cannot register without entering
the audit. The full sweep builds every plan at the smoke SF (~2.5 min
wall in one process — the build-time-job builders, BPE/LM/MLlib, are
the bulk).
"""

from __future__ import annotations

import pytest

from nyc_traffic_insight_spark.queries import load_all
from tests.conftest import SF_SMOKE

# Full registry: every registered query is plan-audited (r13).
AUDITED = sorted(load_all().keys())

# query -> flags it is ALLOWED to carry, with the reason pinned here.
ALLOWED = {
    # one-row global aggregate: partials shrink map-side, the single
    # partition merges |partitions| partial rows
    "agg_regression_metrics": {"single_partition"},
    # brute-force cosine baseline by design: corpus × broadcast queries
    "sim_search_bruteforce_topk": {"bnlj"},
    # all post-leaf intermediates are ≤1024 rows by construction: the
    # one-row literal dom joins plan as BNLJ, and the digest's global
    # window/final agg sit on a single tiny partition
    "sketch_qdigest": {"bnlj", "single_partition"},
    # three one-row stage-count aggregates (each a partial-agg merge of
    # a per-user table that shrinks down the funnel)
    "funnel_conversion": {"single_partition"},
    # one-row wide-aggregate merge (per-column stats collapse map-side)
    "qa_profile_table": {"single_partition"},
    # one-row corpus-size aggregate broadcast onto the tf table (same
    # accounted shape as text_perplexity_proxy's corpus constants)
    "text_tfidf_top_terms": {"single_partition", "bnlj"},
    # three global ntile windows over the PER-CUSTOMER aggregate
    # (bounded by |customers|, same accounted shape as
    # win_ntile_buckets) + the one-row global-max-date broadcast join
    "report_rfm_scores": {"single_partition", "bnlj"},
    # the type-pair spine is a |types|×|types| inequality join over the
    # DISTINCT-types projection of the 64-row-per-type register table —
    # bounded by |types|² (25 here), never fact-table-sized
    "sketch_hll_overlap": {"bnlj"},
    # one-row global-max-timestamp aggregate broadcast onto the
    # per-user table (same accounted shape as report_rfm_scores'
    # max-date row)
    "pipeline_user_features": {"single_partition", "bnlj"},
    # one-row summary merge over the |converters| latency table (the
    # exact-percentile buffer — same accounted shape as
    # agg_regression_metrics' final row)
    "agg_time_to_convert": {"single_partition"},
    # one-row corpus-watermark aggregate broadcast onto the per-type
    # maxima (same accounted shape as pipeline_user_features)
    "qa_freshness_audit": {"single_partition", "bnlj"},
    # one-row cutoff aggregate broadcast onto the fact slices (same
    # accounted shape as qa_freshness_audit's watermark row)
    "pipeline_training_dataset": {"single_partition", "bnlj"},
    # cutoff row broadcast + the global rank window over the
    # per-entity score table (|users|; the report_rfm_scores shape)
    # + the final one-row metric merge
    "agg_auc_exact": {"single_partition", "bnlj"},
    # same cutoff-row broadcast + cumulative window over the
    # |distinct scores|-bounded threshold table
    "agg_precision_recall_curve": {"single_partition", "bnlj"},
    "agg_ks_statistic": {"single_partition", "bnlj"},
    "agg_lift_by_decile": {"single_partition", "bnlj"},
    # one-row wide-aggregate merge, then a 6-row unpivot (the
    # qa_profile_table accounted shape)
    "qa_expectations_report": {"single_partition"},
    # one-row last-day watermark broadcast onto the two slices
    "pipeline_incremental_rollup": {"single_partition", "bnlj"},
    # final one-row CI merge over the B=50 resample means
    "agg_bootstrap_ci": {"single_partition"},
    # 2-row arm rollup to a one-row readout / one-row chi2 merge over
    # the bounded contingency grid
    "report_ab_test": {"single_partition"},
    "agg_chi_square_independence": {"single_partition"},
    # 9-row digit aggregate with its one-row total window
    "agg_benford_audit": {"single_partition"},
    # percent_rank window over the |dates| dim (fact shrinks first,
    # broadcast-hash-joined back) + the final 4-row oversample window
    "ml_segmented_router": {"single_partition"},
    # running sum over the |days| report table (facts collapse to the
    # per-user min-day aggregate first)
    "agg_cumulative_users": {"single_partition"},
    # ntile + one-row total over the |customers| revenue table (the
    # report_rfm_scores accounted shape)
    "report_pareto_deciles": {"single_partition"},
    # the one-row vsize scalar subquery (|vocab|+1 smoothing
    # denominator) merges on a single partition; the trainer's final
    # top-K sort runs over the (cap+1)²-bounded bigram table, never
    # the corpus
    "lm_train_bigram": {"single_partition"},
    "lm_score_perplexity": {"single_partition"},
    # --- r13: the full-registry extension (VERDICT r12 #3). The 11
    # queries below were audit-flagged but sat outside the old CI
    # subset; each flag is the same accounted bounded shape class.
    # one-row global wide-aggregate merges (partials shrink map-side;
    # the single partition sees |partitions| partial rows)
    "agg_null_counts": {"single_partition"},
    "agg_corr_matrix": {"single_partition"},
    "ols_closed_form": {"single_partition"},
    "sketch_hll": {"single_partition"},
    "text_perplexity_proxy": {"single_partition", "bnlj"},
    # three one-row edge-count merges (one per FK edge audited)
    "qa_referential_integrity": {"single_partition"},
    # global window over the single pre-aggregated daily series —
    # inherent to the reference W7 semantics (one series, one order)
    "win_lag_series": {"single_partition"},
    # one-row min/max domain row broadcast onto the fact scan (BNLJ
    # against a 1-row literal); the bin rollup itself distributes
    "sketch_histogram": {"single_partition", "bnlj"},
    # digest audit: exact-quantile rank lookups join the ≤|quantiles|
    # boundary rows (BNLJ vs 1-row counts) + the final one-row
    # accuracy-contract merge
    "sketch_tdigest": {"single_partition", "bnlj"},
    # labeled brute-force baseline: corpus × broadcast query vectors
    # (the scale path is sim_search_ivf_topk / _lsh_buckets)
    "dedup_embedding_cosine": {"bnlj"},
    # --- r13 promotions (flag inventory recorded in NOTES.md r12).
    # two-phase distributed prefix sum: the ONE SinglePartition
    # exchange is the exclusive prefix over the corpus/B bucket
    # table, never the corpus (plan contract pinned in
    # tests/test_pack_windows.py)
    "pack_context_windows": {"single_partition"},
    "pack_window_manifest": {"single_partition"},
    # one-row recall/precision aggregate merge on top of the two
    # audited machines' own (flag-free) shapes
    "qa_lsh_recall_audit": {"single_partition"},
    # waterfilling runs entirely on the k-row language table after
    # ONE map-side-combinable corpus groupBy: the window + one-row
    # budget/jstar cross-joins are |langs|-bounded by construction
    "sample_unimax_budget": {"single_partition", "bnlj"},
    "sample_unimax_apply": {"single_partition", "bnlj"},
    # same accounted vsize one-row count as lm_score_perplexity; the
    # flag only appears when the LM chain's views are not yet
    # materialized at plan time
    "lm_ppl_buckets": {"single_partition"},
    # composes the budget's k-row machine after the curation legs;
    # same bounded shapes (flag-free on a cold audit, but the alloc
    # fragment may render when temp-view state differs)
    "pipeline_unimax_corpus": {"single_partition", "bnlj"},
    # --- r13 second-wave promotions (the twelve r13 previews; flag
    # inventory probed at promotion time, matching the NOTES.md
    # preview log). text_gopher_rules, qa_zipf_slope and
    # mm_dedup_phash probed flag-free and carry no row.
    # BNLJ against the 2-row broadcast epoch range; the shuffle's
    # prefix window is per-epoch over the 256-row bucket table
    "sample_epoch_shuffle": {"bnlj"},
    # the k-row per-source counts fold: one collect_list merge
    # (SinglePartition over |sources| rows) + the one-row counts
    # array broadcast onto the ranked corpus
    "sample_interleave_stride": {"single_partition", "bnlj"},
    # the LM pair's accounted shapes: one-row vsize/nall scalar
    # merges + the nall one-row cross join riding the cap-bounded
    # model broadcast
    "lm_train_kneser_ney": {"single_partition", "bnlj"},
    "lm_score_kneser_ney": {"single_partition", "bnlj"},
    # k-row per-cell share window (|cells| = |labels| rows)
    "qa_ivf_index_audit": {"single_partition"},
    # one one-row recall/precision aggregate merge per banding
    # geometry (×3, each over already-collapsed pair counts)
    "qa_lsh_banding_sweep": {"single_partition"},
    # the epoch-shuffle leg's 2-row epoch-range BNLJ (the packing
    # prefix's SinglePartition collapses into the composed plan's
    # bucket-table exchange)
    "pipeline_pretrain_order": {"bnlj"},
    # one-row corpus-rate merge over the collapsed trigram counts
    "text_dup_ngram_rate": {"single_partition"},
    # four one-row aggregates crossJoined (the qa_freshness_audit
    # one-row-constant shape), each side exactly one row
    "qa_contamination_rate": {"single_partition", "bnlj"},
    # --- r13 late-preview promotions (flag inventory probed at
    # preview time, recorded in the NOTES.md preview log; the four
    # PQ-family entries probed flag-free and carry no row).
    # one-row corpus-count merge + its broadcast onto the 3-row
    # threshold dim
    "qa_dedup_retention": {"single_partition", "bnlj"},
    # r15 banded sibling: same thr-spine/one-row-corpus-count tail
    "qa_dedup_retention_banded": {"single_partition", "bnlj"},
    # the lm_score accounted pair: one-row bucket-totals merge +
    # its crossJoin broadcast onto the B-row ratio table
    "text_dsir_weights": {"single_partition", "bnlj"},
    # BNLJ against the 2-row broadcast epoch range (the registered
    # epoch shuffle's exact inventory)
    "sample_curriculum_order": {"bnlj"},
}


def _flags(plan: str) -> set[str]:
    out = set()
    if "CartesianProduct" in plan:
        out.add("cartesian")
    if "BatchEvalPython" in plan:
        out.add("python_udf_row")
    if "Exchange SinglePartition" in plan:
        out.add("single_partition")
    if "BroadcastNestedLoopJoin" in plan:
        out.add("bnlj")
    return out


@pytest.mark.parametrize("name", AUDITED)
def test_plan_has_no_unexpected_scale_flags(spark, name):
    spec = load_all()[name]
    plan = spec.builder(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    unexpected = _flags(plan) - ALLOWED.get(name, set())
    assert not unexpected, f"{name}: new scale flags {unexpected}\n{plan[:2000]}"


def test_every_headline_query_is_plan_audited():
    """The bench headline set IS the performance-graded surface; a
    query added to bench.py without plan-audit coverage would be timed
    but never shape-checked. Keep HEADLINE a subset of AUDITED."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in AUDITED]
    assert not missing, f"headline queries missing from plan audit: {missing}"
