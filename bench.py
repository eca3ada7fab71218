"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line as the FINAL line of stdout:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q1": median_sec, ...}, "sf": <sf>,
   "subset25": ..., "calib": ..., "calib25": ...,
   "value_calibrated": ..., "subset25_calibrated": ...}

Per-query executor metrics (shuffle-write / spill bytes per rep), the
per-query [min, max] wall spreads, the probe battery and the host
facts go to a separate file, BENCH_metrics.json next to this script —
round 2 put metrics on the headline line, which overflowed the
driver's output-tail capture and left BENCH_r02.json unparseable
(VERDICT r2, "What's wrong" #1), and the r15 line (spread + probes +
env blocks) was one growth spurt from doing it again (the r14 line
WAS truncated, costing that round its automatic per-query PERF
comparison — VERDICT r15 #8). The headline line is last so
tail-capture always keeps it, and is kept under ~4 kB.

Each timed run executes the query plan end-to-end through the "noop"
sink: every output row and column is materialized by the executors, but
nothing is shipped to the driver — the standard way to benchmark Spark
compute without measuring driver-side row deserialization (which no
100 TB pipeline would do anyway; results land in a table, not in
collect()). The harness itself caches nothing between queries; the
catalog's own documented session-scoped caches (widened docs/embeddings,
shingle sets — the same ones every consumer of the engine gets) do apply,
and are dropped via clear_session_caches() at teardown.

Wall time is the per-query MEDIAN of 3 timed reps (round-1 ran
best-of-2; the driver/recorded gap in BENCH_r01 was ~1.7× of pure box
noise, so the extra rep buys outlier resistance). Alongside wall time
the harness records per-query executor metrics — shuffle write bytes
and spilled bytes of each rep's own Spark job groups (``measure``),
read from the public status REST API — so a slow-but-same-shuffle
rerun (box noise) is distinguishable from a plan regression (more
bytes moved) without re-reading plans.
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

# The r1-anchored 25-query subset: the standing like-for-like wall
# line every BASELINE.md recording reports, and the set the calibrated
# <=1.3x gate compares (r14). A NAMED tuple, not a list slice — the
# gate must not silently re-bind if a future round inserts a headline
# entry anywhere but the tail.
SUBSET25 = (
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
)

# Headline set: one per operator family, weighted toward the expensive
# shapes (joins, windows, dedup/similarity at scale). The first 25 ARE
# SUBSET25 (pinned by an assert below).
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
    # round 6 (VERDICT r5 #6): the behavioral/report tier that grew most
    # in round 5 joins the perf gate. Earlier anchors cover the first 25
    # queries; BASELINE.md's round-6 section records both the widened
    # total and the 25-query-subset subtotal for like-for-like reads.
    "report_rfm_scores",
    "win_sessionize_batch",
    "report_copurchase_pairs",
    "pipeline_user_features",
    # round 7: the two late-r7 plan rewrites join the perf gate so the
    # byte anchors guard their new shapes (per-level qdigest
    # materialization, 6.6-7.8 s -> 2.4-3.1 s; narrow fuzzy-key
    # candidate shuffle, 12.5 s -> 3.7 s). 29 -> 31 queries; for
    # like-for-like totals vs earlier rounds subtract these two (the
    # 25- and 29-query subset accounting in BASELINE.md applies
    # unchanged).
    "sketch_qdigest",
    "join_fuzzy_key",
    # round 8: the one sanctioned registry addition (content-defined-
    # chunking dedup) joins the perf gate with its own byte anchor.
    # 31 -> 32 queries; subset accounting in BASELINE.md unchanged.
    "dedup_substring_cdc",
    # round 9: the two BPE promotions (tokenizer training + corpus
    # tokenization) join the perf gate with their own byte anchors —
    # the trainer guards the capped iterative chain, the encoder the
    # uncapped application chain (state ∝ distinct words, the
    # scale-risky side). 32 -> 34 queries; subset accounting in
    # BASELINE.md unchanged.
    "bpe_train_merges",
    "bpe_encode_top_tokens",
    # round 11: the two bigram-LM promotions (model training + corpus
    # perplexity scoring, the CCNet ranking story) join the perf gate
    # with their own byte anchors — the trainer guards the cap-bounded
    # model build, the scorer the model-broadcast + per-doc-groupBy
    # corpus pass. 34 -> 36 queries; the 34-query subset (BPE included
    # per its two rounds of identical anchors) is the standing
    # like-for-like line; subtract these two against earlier rounds.
    "lm_train_bigram",
    "lm_score_perplexity",
    # round 12: the three embedding-curation promotions (SemDeDup, the
    # SSL-prototype filter, and the composed D4 pipeline) join the perf
    # gate with their own byte anchors — SemDeDup guards the within-cell
    # pair join (the Σ|cell|² term), the prototype filter the
    # window-only pass, the composed pipeline the two chained. 36 -> 39
    # queries; the standing like-for-like subsets in BASELINE.md are
    # unchanged — subtract these three against earlier rounds.
    "dedup_semantic",
    "emb_prototypes_filter",
    "pipeline_d4_curation",
    # round 13: two of the eight preview promotions join the perf gate
    # with their own byte anchors — the composed UniMax corpus pipeline
    # (three chained machines: exact dedup, fuzzy decontamination,
    # survivor-scoped waterfilling — the round's most expensive new
    # entry) and the concat-and-chunk packer (guards the two-phase
    # prefix-sum contract: the SinglePartition exchange must stay on
    # the corpus/B bucket table). 39 -> 41 queries; the standing
    # like-for-like subsets in BASELINE.md are unchanged — subtract
    # these two against earlier rounds.
    "pipeline_unimax_corpus",
    "pack_context_windows",
    # round 13 second wave: two of the twelve in-round preview
    # promotions join the perf gate with their own byte anchors — the
    # loader-order capstone (filter -> pack -> per-epoch shuffle,
    # three chained machines, the wave's most expensive entry) and
    # the Kneser-Ney corpus scoring pass (model broadcast + per-doc
    # tick-sum groupBy — the KN twin of lm_score_perplexity's
    # anchored shape). 41 -> 43 queries; the standing like-for-like
    # subsets in BASELINE.md are unchanged — subtract these two
    # against earlier rounds.
    "pipeline_pretrain_order",
    "lm_score_kneser_ney",
    # round 13 third wave: the seven late previews were promoted
    # in-round; the two anchor-worthy entries join the perf gate —
    # the composed IVF-PQ serving path (coarse probe + ADC over the
    # probed lists, the ANN ladder's capstone) and the DSIR
    # corpus-scoring pass (fixed-B bucket models broadcast onto the
    # token stream — the lm_score-class shape). 43 -> 45 queries;
    # the standing like-for-like subsets in BASELINE.md are
    # unchanged — subtract these two against earlier rounds.
    "pipeline_ann_ivfpq",
    "text_dsir_weights",
    # round 14: mm_dedup_phash's candidate stage was rebuilt as the
    # distributed (band, byte) self equi-join (VERDICT r13 #3) — it
    # joins the perf gate so the byte anchor guards the new shape.
    # 45 -> 46 queries; the standing like-for-like subsets in
    # BASELINE.md are unchanged — subtract it against earlier rounds.
    "mm_dedup_phash",
]
if tuple(HEADLINE[:25]) != SUBSET25:  # a real raise: -O strips asserts
    raise RuntimeError("subset25 anchor drifted from HEADLINE[:25]")


def consume(df) -> None:
    """Run a plan end-to-end through the noop sink (see module
    docstring) — shared with tools/scaling_sweep.py."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- probe
#
# Load-calibration probe (round 14; VERDICT r13 "Next round" #1). The
# r13 driver bench read 2.46× the BASELINE-25 wall anchor on
# BYTE-IDENTICAL plans — shared-box load inflated every query class
# uniformly (a bare count() went 0.29 → 0.83 s), saturating the wall
# gate. The fix is to measure the box alongside the queries: a FIXED,
# data-independent, CPU-bound Spark job timed with the same
# median-of-3 + GC-isolation discipline as the queries, run once
# before and once after the timed region. Its wall scales with the
# same contention that inflates query walls (JVM threads across all
# cores, scheduler latency), so
#
#   calibrated_wall = raw_wall * PROBE_REF_SEC / probe_now
#
# reads the run as if taken at the reference recording's box load.
# PROBE_REF_SEC is recorded in the SAME session as BASELINE.md's
# round-14 re-recorded anchor (see that file); the wall contract is
# stated there as calibrated-25-query-subset ≤ 1.3× the anchor.
# Shuffle-byte anchors (tools/anchor.py) remain the noise-free plan
# gate; the probe only restores the wall gate's probativeness.

#: xxhash64-xor over a fixed range: whole-stage-codegen CPU across all
#: 32 slots, one 1-row result, zero input IO, zero shuffle (the final
#: single-partition merge moves 32 longs). Deterministic by
#: construction — no data, no randomness.
_PROBE_ROWS = 1 << 32
_PROBE_SLOTS = 32

# r15 (VERDICT r14 #1): the r14 driver bench read 1.67× the calibrated
# gate while the CPU probe read IDLE — and the slow tier was exactly
# the allocation/string-heavy and Python-worker queries, i.e. the
# resource classes a register-bound codegen loop cannot see (the
# symmetric blind spot BASELINE.md's honesty note conceded). The probe
# is now a BATTERY, one fixed job per resource class:
#
#   cpu    — the r14 xxhash64 loop (registers + whole-stage codegen)
#   alloc  — md5-string array construction through an interpreted
#            higher-order function: JVM allocation rate, GC, UTF8String
#            churn — the dedup/text tier's cost profile
#   shuffle— 4096 tiny groups through one exchange + a second stage:
#            scheduler latency + shuffle round-trip, the many-small-
#            stage profile (qdigest, BPE, pipelines)
#
# calibrated = raw · geomean over the probes WITH a recorded ref
# (ref_p / now_p) — a uniform host slowdown still divides out exactly
# (every ratio shifts together), and a latency/scheduler constraint
# moves the shuffle probe where the r14 CPU-only probe read idle.
# The alloc probe is DIAGNOSTIC-ONLY (ref = None): its value reads an
# allocation-constrained environment, but it measures the JVM's
# session-path-dependent heap state and drifted 7 → 15 s WITHIN the
# r15 recording run — a noise source, not a reference. All probe
# values ride the headline line so a reader can attribute a gap to
# its resource class without this machine. Refs recorded in the SAME
# session as the r15 anchor (BASELINE.md "Round-15 calibrated
# anchor", recording run of 2026-08-16: cpu 0.936/0.902/0.924,
# shuffle 0.691/0.650/0.701) — re-record all together or none.
PROBE_REF_SEC = {"cpu": 0.921, "alloc": None, "shuffle": 0.681}


def _probe_jobs(spark) -> dict:
    # Fresh DataFrame per call everywhere: re-collecting one object
    # re-runs its cached QueryExecution (AQE stages already
    # materialized) and measures nothing.
    def cpu():
        return spark.range(0, _PROBE_ROWS, 1, _PROBE_SLOTS).selectExpr(
            "bit_xor(xxhash64(id)) AS s"
        )

    def alloc():
        # 24 md5 hex strings built per row inside transform() — the
        # interpreted-HOF + allocation profile of the shingle/LSH tier.
        return spark.range(0, 1 << 21, 1, _PROBE_SLOTS).selectExpr(
            "bit_xor(xxhash64(concat_ws('-', transform(sequence(1, 24),"
            " i -> md5(concat(cast(id AS string), '-',"
            " cast(i AS string))))))) AS s"
        )

    def shuffle():
        # one full exchange over 4096 tiny groups + the second-stage
        # aggregate: scheduler + shuffle-fetch latency, ~no compute
        return (
            spark.range(0, 1 << 22, 1, _PROBE_SLOTS)
            .selectExpr("id % 4096 AS k", "id AS v")
            .groupBy("k")
            .sum("v")
            .selectExpr("bit_xor(xxhash64(k)) AS s")
        )

    return {"cpu": cpu, "alloc": alloc, "shuffle": shuffle}


def calibration_probe(spark) -> dict:
    """Median-of-3 wall per probe class (seconds each)."""
    out = {}
    for name, job in _probe_jobs(spark).items():
        # bit_xor, not sum: a sum of 2^31 hashes overflows BIGINT under
        # ANSI mode (Spark 4 default). Two untimed warmup reps: codegen
        # compile on the first, C2 JIT promotion on the second —
        # medians drifted 1.09 -> 0.70 s with a single warmup.
        job().collect()
        job().collect()
        reps = []
        for _ in range(3):
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            job().collect()
            reps.append(time.perf_counter() - t0)
        out[name] = round(sorted(reps)[1], 3)
    return out


def _env_diagnostics() -> dict:
    """Cheap host facts for decomposing a driver-vs-builder wall gap
    (r15; read-only, best-effort — zeros mean unreadable). Sampled
    BEFORE the warmups and AFTER the last probe; the cpu_* fields are
    cumulative jiffies from /proc/stat, so the before/after DELTA
    gives busy/idle/STEAL core-time over the whole run — bursty
    host-level steal (2.19M jiffies cumulative on the r15 builder
    box) is exactly the contention class that dodges point probes."""
    out = {"mem_available_kb": 0, "load_avg_1m": 0.0, "nproc": os.cpu_count()}
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        out["cpu_busy_jiffies"] = v[0] + v[1] + v[2]
        out["cpu_idle_jiffies"] = v[3]
        out["cpu_steal_jiffies"] = v[7] if len(v) > 7 else 0
    except (OSError, ValueError):
        pass
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    out["mem_available_kb"] = int(line.split()[1])
                    break
    except OSError:
        pass
    try:
        out["load_avg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    for p in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(p) as f:
                out["cgroup_mem_max"] = f.read().strip()
            break
        except OSError:
            pass
    return out


_CALLS = itertools.count()


def measure(spark, label: str, build, reps: int = 3) -> dict:
    """Time ``reps`` runs of ``consume(build())`` and attribute each
    run's executor bytes by Spark job group — the one measure path that
    ``main`` and the tools' sweeps and probes share.

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
    env_before = _env_diagnostics()
    spark = get_spark(
        app_name="ntis-bench",
        extra_conf={
            "spark.ui.enabled": "true",
            # progress bars write \r-frames onto stdout in this setup,
            # wrapping the headline JSON line the driver tail-captures
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()

    # Warmup pass: run every headline query once at the smallest SF so
    # the JVM JIT + whole-stage-codegen (Janino) compilation of each
    # query's generated code happens outside the timed region. The
    # timed runs then measure steady-state throughput — the quantity
    # that scales to a cluster — not one-time driver-side compilation.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        consume(specs[name].builder(spark, warm_dir))
    # touch the target-SF files once so the first timed query measures
    # compute, not cold page-cache IO that every later query skips
    consume(specs["agg_count"].builder(spark, sf_dir))
    consume(specs["doc_stats_by_source"].builder(spark, sf_dir))
    consume(specs["sim_search_lsh_buckets"].builder(spark, sf_dir))
    consume(specs["join_traffic_weather_boro"].builder(spark, sf_dir))

    # load-calibration probe: before the timed region (first, per the
    # gate statement), at its midpoint, and after — the mean of the
    # three medians calibrates the totals. The midpoint sample exists
    # because a before/after pair is blind to a load burst that rises
    # and subsides INSIDE the ~9-minute timed region (observed r14:
    # walls uniformly x1.36 on byte-identical plans while both
    # endpoint probes read idle).
    probe_before = calibration_probe(spark)
    probe_mid = None

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    query_metrics: dict[str, dict] = {}
    for qi, name in enumerate(HEADLINE):
        if qi == len(HEADLINE) // 2:
            probe_mid = calibration_probe(spark)
        m = measure(spark, name, lambda: specs[name].builder(spark, sf_dir))
        reps = m["walls"]
        # median-of-3: robust to a single scheduler/GC hiccup in either
        # direction, unlike best-of (optimistic) or mean (one bad rep
        # drags it)
        timings[name] = round(statistics.median_high(reps), 3)
        # [min, max] across reps: a reader can separate box noise (wide
        # spread around a stable median) from real drift (tight spread
        # at a new level) without access to this machine
        spreads[name] = [round(min(reps), 3), round(max(reps), 3)]
        query_metrics[name] = {
            "shuffle_write_bytes": statistics.median_high(m["shuffle_w"]),
            "spilled_bytes": statistics.median_high(m["spill"]),
            "rep_secs": [round(x, 3) for x in reps],
            "rep_bytes": {
                "shuffle_write_bytes": m["shuffle_w"],
                "spilled_bytes": m["spill"],
            },
        }

    probe_after = calibration_probe(spark)
    samples = [p for p in (probe_before, probe_mid, probe_after) if p]
    probe_now = {
        k: round(sum(s[k] for s in samples) / len(samples), 3)
        for k in samples[0]
    }

    total = round(sum(timings.values()), 3)
    subset25 = round(sum(timings[n] for n in SUBSET25), 3)
    # geometric mean of ref/now ratios over the probes with a
    # recorded ref (see the battery comment above — alloc is
    # diagnostic-only). The subset25 queries execute in the FIRST half
    # of the timed region, so the subset's factor comes from the
    # before/mid probe pair; the total uses all three samples. (The
    # r15 second verification run had a contention burst confined to
    # the run's start — shuffle probe 2.44 → 0.64 → 0.60 — and a
    # whole-run mean under-corrects exactly the half the gate reads.)
    import math

    def _calib_from(samples):
        sams = [p for p in samples if p]
        if not sams:
            return None
        ref_keys = [k for k, r in PROBE_REF_SEC.items() if r]
        now = {
            k: sum(s[k] for s in sams) / len(sams) for k in ref_keys
        }
        if not ref_keys or not all(now.values()):
            return None
        return round(
            math.exp(
                sum(
                    math.log(PROBE_REF_SEC[k] / now[k])
                    for k in ref_keys
                )
                / len(ref_keys)
            ),
            4,
        )

    calib = _calib_from([probe_before, probe_mid, probe_after])
    calib25 = _calib_from([probe_before, probe_mid])
    # Durable sidecar for the executor metrics; NOT on the headline line
    # (see module docstring).
    metrics_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_metrics.json"
    )
    with open(metrics_path, "w") as f:
        json.dump(
            {
                "sf": sf,
                "query_metrics": query_metrics,
                # moved off the headline line (r16; VERDICT r15 #8):
                # per-query [min, max] wall spreads, the full probe
                # battery, and the host facts for gap decomposition
                # (cpu_*_jiffies deltas give busy/idle/steal core-time
                # over the run)
                "spread": spreads,
                "probe_sec": {
                    "before": probe_before,
                    "mid": probe_mid,
                    "after": probe_after,
                    "ref": PROBE_REF_SEC,
                },
                "env_before": env_before,
                "env_after": _env_diagnostics(),
            },
            f,
            indent=1,
        )
    # Drop every persisted block the catalog accumulated (widened
    # docs/embeddings, shingle sets) before stopping — VERDICT r3 #6.
    clear_session_caches(spark)
    spark.stop()
    # Compact headline line LAST so the driver's output-tail capture
    # always retains it. r16 (VERDICT r15 #8): the line grew past the
    # driver's tail-capture window once already (r14's PERF per-query
    # comparison was lost to a mid-dict truncation), so everything a
    # reader can get from the sidecar — per-query [min, max] spreads,
    # the full probe battery, the /proc host facts — now lives ONLY in
    # BENCH_metrics.json; the line keeps the contract fields
    # (metric/value/unit/queries/sf), the gate fields (subset25,
    # *_calibrated) and the two calibration factors, and stays well
    # under ~4 kB at 46 queries.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # load calibration (r14; VERDICT r13 #1): raw AND
                # probe-normalized walls ride the headline line. The
                # wall contract is stated in BASELINE.md as
                # calibrated subset25 <= 1.3x the anchor.
                "subset25": subset25,
                "calib": calib,
                "calib25": calib25,
                "value_calibrated": (
                    round(total * calib, 3) if calib else None
                ),
                "subset25_calibrated": (
                    round(subset25 * calib25, 3) if calib25 else None
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
