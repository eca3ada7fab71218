"""Docstring shuffle-claims vs executed-plan audit (VERDICT r5 #4).

Round 5's manual audit caught a builder docstring claiming "one
shuffle" where the executed plan had three (pipeline_user_features,
commit ebb19c1); round 6 found the same overstatement in
funnel_conversion. This test makes that audit standing:

1. every countable claim of the form "<zero|no|one|single|two|three>
   shuffle(s)" in a registered builder's docstring must appear in
   ``CLAIMS`` below — adding or rewording a claim without updating the
   table fails the sync test;
2. for numeric entries the query's plan is built and its shuffle
   exchanges counted (hash/range/single-partition, excluding broadcast
   and reused) — a plan with MORE shuffles than the docstring claims
   fails, so a new overstatement surfaces at test time.

Qualified claims (about one stage of the plan, or about a documented
deployment layout rather than this plan) carry a reason string instead
of a number; the sync test still keeps them enumerated so a rewording
is reviewed here.
"""

from __future__ import annotations

import re

import pytest

from nyc_traffic_insight_spark.queries import load_all
from tests.conftest import SF_SMOKE

_CLAIM_RE = re.compile(
    r"\b(zero|no|one|a single|single|two|three|four)\s+"
    r"(?:same-key\s+)?shuffles?\b",
    re.I,
)
_NUM = {"zero": 0, "no": 0, "one": 1, "a single": 1, "single": 1,
        "two": 2, "three": 3, "four": 4}

# query -> claimed max shuffle exchanges (int), or a reason string for
# claims that are scoped to one stage / a deployment layout and are
# therefore not a whole-plan bound.
CLAIMS: dict[str, int | str] = {
    "win_topn_per_key": 1,
    "text_chunk_fixed": 0,
    "text_readability": 0,
    "win_sessionize_native": 1,
    "event_attribution_last_touch": 1,
    "scan_orc_roundtrip": 0,
    "join_asof": 2,  # "ONE shuffle of each side" — two exchanges total
    "join_asof_nearest": 2,  # same composition, mirrored second window
    "win_roll_mean_24": 2,
    "win_first_last": 1,
    "emb_centroid_by_label": 1,
    "sample_stratified": 0,
    "text_pii_scrub": 0,
    "split_deterministic": 0,
    "layout_zorder_key": 0,
    "agg_grouping_sets": 1,
    "win_ntile_buckets": 1,
    "win_sessionize_batch": 1,
    "unpivot_measures": 0,
    # "ONE shuffle" scopes the basket build; the pair aggregate is the
    # second (and the docstring says so) — whole-plan bound is 2
    "report_copurchase_pairs": 2,
    # "ONE shuffle" scopes the m2 aggregate; the dim-bounded means
    # aggregate is a second tiny exchange, and _embs' footer-gated
    # widening repartition adds a third ON THE LOCAL FIXTURE ONLY
    # (cluster scans skip it) — local whole-plan bound 3
    "emb_covariance_matrix": 3,
    # --- stage-scoped / layout-scoped claims (not whole-plan bounds) ---
    "qa_expectations_report": "claims the SCAN is shuffle-free; the two "
    "one-row result merges are SinglePartition exchanges accounted in "
    "test_plan_audit.py",
    "dim_scd2_build": "claims the PROBE join needs no shuffle under the "
    "bucketed 100 TB layout (test_bucketing.py), not that this build is "
    "shuffle-free",
    "sim_search_ivf_topk": "claims the ASSIGN stage is shuffle-free; the "
    "per-query top-k still exchanges |q|·k rows",
    "join_bloom_prefilter": "claims no shuffle BEFORE the exact join "
    "(the bloom probes are broadcast semi-joins); the exact join and "
    "the one-row filter build still exchange",
    "sketch_qdigest": "claims one shuffle of <=1024 rows PER TASK in the "
    "register rollup; the generated probe SQL has many tiny exchanges, "
    "all bounded by the 1024-row digest (test_plan_audit.py whitelist)",
    "pipeline_training_dataset": "'single shuffle KEY throughout' is a "
    "claim about key reuse (every exchange is on user_id), not a count",
    "text_perplexity_proxy": "claims no shuffle KEYED ON HOT TERMS (the "
    "skew hazard); the corpus-constant merge still exchanges one row",
}

@pytest.fixture(autouse=True, scope="module")
def _fresh_cache(spark):
    """Earlier test modules cache catalog DataFrames (e.g.
    test_behavior's sessionize fixture); a plan that matches a cached
    relation renders the cached child plan inside InMemoryRelation and
    the exchange count reads doubled. Audit claims against the
    cache-free plan — what a fresh session (and the 100 TB run) gets.

    clear_session_caches() unpersists and drops the session registry's
    entries; clearCache() then drops every other cached relation."""
    from nyc_traffic_insight_spark.session import clear_session_caches

    clear_session_caches(spark)
    spark.catalog.clearCache()
    yield


_SHUFFLE_RE = re.compile(
    r"(?<!Reused)(?<!Broadcast)Exchange "
    r"(hashpartitioning|rangepartitioning|SinglePartition)"
)


def shuffle_count(plan: str) -> int:
    return len(_SHUFFLE_RE.findall(plan))


def extracted_claims() -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for name, spec in load_all().items():
        doc = spec.builder.__doc__ or ""
        # "shuffle-free" reads as a zero-claim the word regex misses
        hits = [m.group(0) for m in _CLAIM_RE.finditer(doc)]
        hits += re.findall(r"\bshuffle-free\b", doc)
        if hits:
            out[name] = hits
    return out


def test_every_docstring_claim_is_registered():
    found = extracted_claims()
    missing = sorted(set(found) - set(CLAIMS))
    stale = sorted(set(CLAIMS) - set(found))
    assert not missing, (
        f"builder docstrings claim shuffle counts not audited here: "
        f"{ {n: found[n] for n in missing} } — add them to CLAIMS "
        f"(a number to bound the plan, a reason string if stage-scoped)"
    )
    assert not stale, (
        f"CLAIMS entries whose docstring claim disappeared: {stale} — "
        f"drop or re-point them"
    )


@pytest.mark.parametrize(
    "name", [n for n, v in CLAIMS.items() if isinstance(v, int)]
)
def test_plan_does_not_exceed_claimed_shuffles(spark, name):
    spec = load_all()[name]
    plan = (
        spec.builder(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    actual = shuffle_count(plan)
    claimed = CLAIMS[name]
    assert actual <= claimed, (
        f"{name}: docstring claims <={claimed} shuffle(s) but the plan "
        f"has {actual} — fix the plan or the claim\n{plan[:2000]}"
    )


def test_no_shrinking_window_frames():
    """A currentRow -> unboundedFollowing frame makes Spark re-aggregate
    the partition remainder per row — O(n²), measured 66 s vs 1.1 s on
    join_asof_nearest at sf0.1 (round 6). Every unboundedFollowing in
    the engine must be part of a whole-partition frame; shrinking
    frames are expressed as running frames over the reversed sort."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / (
        "nyc_traffic_insight_spark"
    )
    offenders = []
    for path in root.rglob("*.py"):
        text = path.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            if "unboundedfollowing" in line.lower() and "#" != line.lstrip()[:1]:
                window = text.splitlines()[max(0, i - 3) : i]
                ctx = " ".join(w.strip() for w in window)
                if "unboundedPreceding" not in ctx:
                    offenders.append(f"{path.name}:{i}: {line.strip()}")
    assert not offenders, (
        "shrinking window frames (currentRow -> unboundedFollowing) "
        f"found — rewrite as running frames over the reversed sort:\n"
        + "\n".join(offenders)
    )


def test_catalog_counts_in_docs():
    """The registry size is quoted in four documents; a stale count
    survived two rounds in SCALE.md (VERDICT r7 nit), so pin every
    quoted count to the regenerated truth. On registry growth, update
    the doc lines — this test names them."""
    import pathlib

    reg = load_all()
    n = len(reg)
    n_oracled = sum(1 for s in reg.values() if s.oracle)
    root = pathlib.Path(__file__).resolve().parents[1]
    # README's "every one of the N entries carries a value-hash
    # oracle" is an ALL-oracled claim: interpolating n_oracled (not n)
    # means a future rows-only entry breaks this pin instead of the
    # count silently papering over a now-false sentence — reword the
    # README (and drop this coupling) if the registry ever regrows a
    # rows-only tier.
    assert n == n_oracled, (
        f"{n - n_oracled} rows-only entries exist but README claims "
        "every entry is oracled — reword README and update this test"
    )
    expectations = {
        "README.md": [
            f"THE CATALOG: {n} operators",
            f"one of the {n_oracled} entries carries a value-hash oracle",
        ],
        "SCALE.md": [
            f"The catalog ({n} queries, {n_oracled} with "
            "cross-engine value oracles)",
        ],
        "NOTES.md": [
            f"**Registry state (authoritative): {n} queries / "
            f"{n_oracled} DuckDB",
        ],
        "SURVEY.md": [
            f"{n} registered queries, {n_oracled} with full DuckDB "
            "value oracles",
        ],
    }
    stale = []
    for doc, lines in expectations.items():
        text = (root / doc).read_text()
        for want in lines:
            if want not in text:
                stale.append(f"{doc}: expected {want!r}")
    assert not stale, (
        f"registry is {n} queries / {n_oracled} oracles but these doc "
        "lines disagree:\n" + "\n".join(stale)
    )
