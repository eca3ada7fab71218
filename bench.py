"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line as the FINAL line of stdout:
  {"metric": "headline_queries_total_wall", "value": <total_sec>,
   "unit": "sec", "queries": {"q1": median_sec, ...}, "sf": <sf>,
   "cpus": <defaultParallelism>, "driver_memory": "<spark.driver.memory>"}

Per-query executor metrics go to BENCH_metrics.json next to this
script, with the same ``sf``/``cpus``/``driver_memory`` stamps: per
query, the median shuffle-write and spilled bytes, each rep's wall
(``rep_secs``) and each rep's bytes (``rep_bytes``). They stay off the
headline line so that an output-tail capture always keeps it whole.

Each run executes the query plan end-to-end through the "noop" sink:
every output row and column is materialized by the executors, but
nothing is shipped to the driver, so driver-side row deserialization
is not timed. The harness caches nothing between queries; the
catalog's own session-scoped caches (widened docs/embeddings, shingle
sets) do apply, and are dropped via clear_session_caches() at teardown.

Wall time is the per-query median of 3 timed reps, which follow one
untimed warm rep at the same scale factor (``measure``). The
per-rep bytes are read from each rep's own Spark job groups, so a
slow-but-same-bytes rerun (host noise) is distinguishable from a plan
change (more bytes moved) without re-reading plans.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nyc_traffic_insight_spark.queries import load_all  # noqa: E402
from nyc_traffic_insight_spark.session import (  # noqa: E402
    DEFAULT_SF_DIR,
    clear_session_caches,
    get_spark,
)
from perfbench.jobtrace import attribute, read_status, untag  # noqa: E402

# One query per operator family, weighted toward the expensive shapes
# (joins, windows, dedup/similarity at scale, the composed pipelines);
# each entry's shuffle bytes are anchored in BASELINE_anchors.json.
HEADLINE = [
    "flagship_volume_features",
    "join_traffic_weather_boro",
    "join_traffic_weather_time",
    "join_star_broadcast",
    "join_asof",
    "join_range_binned",
    "join_salted_skew",
    "join_nearest_spatial",
    "agg_count",
    "agg_regression_metrics",
    "win_lag_multi",
    "win_roll_mean_24",
    "win_ranking",
    "pivot_onehot",
    "stream_sessionization",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_search_bruteforce_topk",
    "sim_search_lsh_buckets",
    "sim_search_ivf_topk",
    "sim_search_topk_vectorized",
    "text_quality_score",
    "text_fingerprint",
    "geo_reproject_forward",
    "mm_extract_features",
    "report_rfm_scores",
    "win_sessionize_batch",
    "report_copurchase_pairs",
    "pipeline_user_features",
    "sketch_qdigest",
    "join_fuzzy_key",
    "dedup_substring_cdc",
    "bpe_train_merges",
    "bpe_encode_top_tokens",
    "lm_train_bigram",
    "lm_score_perplexity",
    "dedup_semantic",
    "emb_prototypes_filter",
    "pipeline_d4_curation",
    "pipeline_unimax_corpus",
    "pack_context_windows",
    "pipeline_pretrain_order",
    "lm_score_kneser_ney",
    "pipeline_ann_ivfpq",
    "text_dsir_weights",
    "mm_dedup_phash",
]


def consume(df) -> None:
    """Run a plan end-to-end through the noop sink (see module
    docstring)."""
    df.write.format("noop").mode("overwrite").save()


_CALLS = itertools.count()


def measure(spark, label: str, build, reps: int = 3) -> dict:
    """Time ``reps`` runs of ``consume(build())`` and attribute each
    run's executor bytes by Spark job group — the one measure path that
    ``main`` and the tools' sweeps and probes share.

    One untimed rep runs first under job group ``<label>#warm``, at the
    caller's own inputs: whole-stage codegen, JIT and any session cache
    keyed on those inputs fill there, so rep 1 is steady state.  It
    appears in no returned wall or byte count.

    Rep k runs ``build()`` under job group ``<label>#build`` and the
    noop sink under ``<label>#sink``; the group description names the
    call and the rep (``m<call>r<k>``), so repeated measurements of one
    label in one session never share a key.  Returns ``walls`` (seconds,
    build + sink, per rep) and, when the session has a UI, per-rep
    ``shuffle_w`` and ``spill`` bytes (build + sink) read once from the
    status REST API after the reps; without a UI both are ``None``.  A
    stage's metrics reach the status store when the stage completes, so
    a group never picks up another query's late-posting bytes."""
    sc = spark.sparkContext
    call = next(_CALLS)
    try:
        sc.setJobGroup(f"{label}#warm", f"m{call}")
        consume(build())
    finally:
        untag(sc)
    tags = [f"m{call}r{k}" for k in range(reps)]
    walls = []
    for tag in tags:
        # collect the previous run's garbage outside the timed region:
        # a late query must not pay an earlier query's GC debt
        sc._jvm.System.gc()
        try:
            sc.setJobGroup(f"{label}#build", tag)
            t0 = time.perf_counter()
            df = build()
            sc.setJobGroup(f"{label}#sink", tag)
            consume(df)
            walls.append(time.perf_counter() - t0)
        finally:
            untag(sc)
    out = {"walls": walls, "shuffle_w": None, "spill": None}
    if sc.uiWebUrl:
        groups = attribute(*read_status(sc.uiWebUrl))
        for field in ("shuffle_w", "spill"):
            out[field] = [
                sum(
                    groups.get((f"{label}#{part}", tag), {}).get(field, 0)
                    for part in ("build", "sink")
                )
                for tag in tags
            ]
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    # UI on: its status REST API is where measure() reads each job
    # group's stage metrics, once per query, so the default stage
    # retention covers every read.
    spark = get_spark(
        app_name="ntis-bench",
        extra_conf={
            "spark.ui.enabled": "true",
            # progress bars write \r-frames onto stdout in this setup,
            # wrapping the headline JSON line the driver tail-captures
            "spark.ui.showConsoleProgress": "false",
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    specs = load_all()
    # numbers count only on the host profile that ran them
    host = {
        "cpus": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
    }

    timings: dict[str, float] = {}
    query_metrics: dict[str, dict] = {}
    for name in HEADLINE:
        m = measure(spark, name, lambda: specs[name].builder(spark, sf_dir))
        reps = m["walls"]
        # median-of-3: robust to a single scheduler/GC hiccup in either
        # direction, unlike best-of (optimistic) or mean (one bad rep
        # drags it)
        timings[name] = round(statistics.median_high(reps), 3)
        query_metrics[name] = {
            "shuffle_write_bytes": statistics.median_high(m["shuffle_w"]),
            "spilled_bytes": statistics.median_high(m["spill"]),
            "rep_secs": [round(x, 3) for x in reps],
            "rep_bytes": {
                "shuffle_write_bytes": m["shuffle_w"],
                "spilled_bytes": m["spill"],
            },
        }

    metrics_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_metrics.json"
    )
    with open(metrics_path, "w") as f:
        json.dump(
            {"sf": sf, **host, "query_metrics": query_metrics}, f, indent=1
        )
    # drop every persisted block the catalog accumulated before stopping
    clear_session_caches(spark)
    spark.stop()
    # the headline line goes LAST so an output-tail capture keeps it
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                **host,
            }
        )
    )


if __name__ == "__main__":
    main()
