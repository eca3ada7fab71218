"""100× document-count probe for the two least-decade-proven queries.

VERDICT r12 #6: the standing scaling sweep (tools/scaling_sweep.py)
covers one decade on the real testdata (sf0.01 → sf0.1). The two
queries whose NEXT decade is least proven are

- ``bpe_encode_top_tokens`` — its state is ∝ distinct words, so the
  risk axis is vocabulary, not row count;
- ``pipeline_unimax_corpus`` — three composed machines (exact dedup,
  LSH fuzzy decontamination, survivor-scoped waterfilling) whose
  interaction term (duplicate-group pair expansion inside band
  buckets) only shows on duplicate-heavy corpora.

This tool REPLICATES the sf0.1 documents table 10× (judge-sanctioned:
"replicated testdata is fine") into scratch parquet dirs, giving a
50,000-doc corpus = 100× the driver's sf0.01 gate, in two variants:

- ``ident``: texts copied verbatim, doc_ids offset by ID_OFFSET·k
  (1,000,000 — see the constant's disjointness note). This
  is the DUP-HEAVY worst case for the corpus pipeline (duplicate
  density jumps to 90%, so the exact-dedup and banding legs carry the
  growth) and the vocab-CONSTANT case for BPE (the favorable axis).
- ``salted``: every word suffixed with the replica index (replica 0
  kept verbatim), so distinct words grow ~10× WITH the corpus — the
  state-growth axis for BPE encode, and a near-dup-free corpus for
  the pipeline (signatures diverge, banding candidates stay sparse).

For each (query, corpus) cell it reports median-of-3 noop-sink wall
and the median per-rep shuffle-write bytes of the query's own job
groups (bench.measure), plus the wall/byte exponents of the sf0.1 →
50k-doc decade. Results are recorded in SCALE.md
("Second-decade probe", round 13).

Usage: python tools/docs_decade_probe.py [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from nyc_traffic_insight_spark.queries import load_all  # noqa: E402
from nyc_traffic_insight_spark.session import get_spark  # noqa: E402

SF_BASE = "/root/testdata/sf0.1"
ID_OFFSET = 1_000_000  # > max sf0.1 doc_id; keeps replica ids disjoint
QUERIES = ["bpe_encode_top_tokens", "pipeline_unimax_corpus"]


def _scratch(tag: str) -> str:
    root = os.path.join(
        "/tmp", f"ntis_decade_probe_{os.getpid()}", tag
    )
    os.makedirs(root, exist_ok=True)
    return root


def build_corpus(spark, variant: str, replicas: int) -> str:
    """Write a replicas×-replicated documents.parquet; return its
    sf_dir."""
    out = _scratch(f"{variant}{replicas}")
    dst = os.path.join(out, "documents.parquet")
    if os.path.exists(dst):
        return out
    base = spark.read.parquet(os.path.join(SF_BASE, "documents.parquet"))
    reps = spark.range(replicas).withColumnRenamed("id", "k")
    rep = base.crossJoin(F.broadcast(reps)).withColumn(
        "doc_id", F.col("doc_id") + F.col("k") * ID_OFFSET
    )
    if variant == "salted":
        # replica 0 verbatim; replicas 1..9 suffix every word with the
        # replica index — distinct words grow with the corpus
        salted = F.array_join(
            F.transform(
                F.split(F.trim("text"), r"\s+"),
                lambda w: F.concat(w, F.lit("_"), F.col("k").cast("string")),
            ),
            " ",
        )
        rep = rep.withColumn(
            "text", F.when(F.col("k") == 0, F.col("text")).otherwise(salted)
        )
    (
        rep.drop("k")
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(8)
        .write.mode("overwrite")
        .parquet(dst)
    )
    return out


def build_emb_corpus(spark, variant: str, replicas: int) -> str:
    """Write a replicas×-replicated embeddings.parquet; return its
    sf_dir (r14; VERDICT r13 "Next round" #5 — the embeddings table
    grows only ~4× per testdata decade, so the embedding tier had
    never seen a true 10×/100× vector-count read).

    Variants:
    - ``ident``: vectors copied verbatim, vec_ids offset by
      ID_OFFSET·k (disjoint). Every replica of a vector sits at
      cosine 1.0 to its original — the DUP-HEAVY worst case for
      SemDeDup's within-cell pair stage (pairs grow ~replicas² per
      dup group) and the zero-new-skew case for IVF (occupancy scales
      exactly ×replicas per cell).
    - ``jitter``: replica 0 verbatim; replicas 1.. get a DETERMINISTIC
      per-component relative perturbation of up to ±10%
      ((vec_id·131 + pos·17 + k·7919) mod 2001 − 1000) · 1e-4 — no
      randomness, reproducible across runs. Vectors spread WITHIN
      cells (realistic corpus growth: near-dup-light, cell occupancy
      grows with real assignment drift), the right axis for the ANN
      ladder and the D4 pipeline.
    """
    out = _scratch(f"emb_{variant}{replicas}")
    dst = os.path.join(out, "embeddings.parquet")
    if os.path.exists(dst):
        return out
    base = spark.read.parquet(os.path.join(SF_BASE, "embeddings.parquet"))
    reps = spark.range(replicas).withColumnRenamed("id", "k")
    rep = base.crossJoin(F.broadcast(reps)).withColumn(
        "vec_id", F.col("vec_id") + F.col("k") * ID_OFFSET
    )
    if variant == "jitter":
        jittered = F.transform(
            F.col("embedding"),
            lambda x, i: (
                x
                * (
                    1.0
                    + (
                        (
                            F.col("vec_id") * 131
                            + i * 17
                            + F.col("k") * 7919
                        )
                        % 2001
                        - 1000
                    ).cast("double")
                    * 1e-4
                )
            ).cast("float"),
        )
        rep = rep.withColumn(
            "embedding",
            F.when(F.col("k") == 0, F.col("embedding")).otherwise(jittered),
        )
    rep.drop("k").repartition(8).write.mode("overwrite").parquet(dst)
    return out


def ivf_cell_skew(spark, sf_dir: str) -> dict:
    """IVF cell-occupancy skew at this corpus, read off the registered
    qa_ivf_index_audit (same centroids, same assignment spelling):
    max/mean occupancy ratio and the max cell share. The number that
    justifies (or resizes) the k=10 cell count — a ratio near 1 means
    balanced cells; a large ratio means the hottest cell's Σ|cell|²
    pair term and its probe traffic dominate."""
    rows = load_all()["qa_ivf_index_audit"].builder(spark, sf_dir).collect()
    ns = sorted(r["n_vectors"] for r in rows)
    mean = sum(ns) / len(ns)
    return {
        "n_cells": len(ns),
        "occ_min": ns[0],
        "occ_max": ns[-1],
        "occ_max_over_mean": round(ns[-1] / mean, 3),
        "max_share": round(max(r["share"] for r in rows), 4),
    }


def time_query(spark, name: str, sf_dir: str, reps: int) -> dict:
    spec = load_all()[name]
    m = bench.measure(spark, name, lambda: spec.builder(spark, sf_dir), reps)
    walls, b = m["walls"], m["shuffle_w"]
    return {
        "wall_s": round(statistics.median(walls), 3),
        "spread": [round(min(walls), 3), round(max(walls), 3)],
        "shuffle_bytes_per_rep": None if b is None else statistics.median_high(b),
    }


def run_emb_tier(spark, reps: int) -> int:
    """The r14 embedding-tier probe: walls + shuffle bytes for the
    three never-decade-proven embedding queries over replicated vector
    corpora, plus the IVF cell-occupancy skew per corpus.

    Corpus sizing per query follows each one's scale shape:
    - dedup_semantic: its pair stage is Σ|cell|² — quadratic in cell
      occupancy BY DESIGN (SemDeDup controls it by scaling k with the
      corpus, which this fixed-k testdata deliberately does not). The
      ident 10× cell is the dup-heavy worst case; 100× at k=10 would
      be a ~10⁴× pair blowup of a corpus SemDeDup itself would shard
      over more cells, so the probe stops at 10× and reports the
      measured exponent instead.
    - pipeline_d4_curation: same Σ|cell|² first stage → 10× jitter.
    - pipeline_ann_ivfpq: probe-bounded serving (fixed query set,
      candidates from probed cells only) → corpus-linear → runs the
      full 10× AND 100×.
    """
    cells = {
        "dedup_semantic": {
            "sf0.01 (200 vecs)": "/root/testdata/sf0.01",
            "sf0.1 (2k vecs)": SF_BASE,
            "jitter 10x (20k vecs)": build_emb_corpus(spark, "jitter", 10),
            "ident 10x (20k vecs, dup-heavy)": build_emb_corpus(
                spark, "ident", 10
            ),
        },
        "pipeline_d4_curation": {
            "sf0.01 (200 vecs)": "/root/testdata/sf0.01",
            "sf0.1 (2k vecs)": SF_BASE,
            "jitter 10x (20k vecs)": build_emb_corpus(spark, "jitter", 10),
        },
        "pipeline_ann_ivfpq": {
            "sf0.01 (200 vecs)": "/root/testdata/sf0.01",
            "sf0.1 (2k vecs)": SF_BASE,
            "jitter 10x (20k vecs)": build_emb_corpus(spark, "jitter", 10),
            "jitter 100x (200k vecs)": build_emb_corpus(
                spark, "jitter", 100
            ),
        },
    }
    results: dict = {}
    for q, corpora in cells.items():
        results[q] = {}
        for tag, sf_dir in corpora.items():
            r = time_query(spark, q, sf_dir, reps)
            results[q][tag] = r
            print(
                f"{q:24s} {tag:34s} wall={r['wall_s']:8.3f}s "
                f"bytes={r['shuffle_bytes_per_rep']}",
                flush=True,
            )
    skews: dict = {}
    for tag, sf_dir in cells["pipeline_ann_ivfpq"].items():
        skews[tag] = ivf_cell_skew(spark, sf_dir)
        print(f"ivf-skew {tag:34s} {skews[tag]}", flush=True)
    print(
        json.dumps(
            {"probe": "emb_decade", "results": results, "ivf_skew": skews}
        )
    )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--tier",
        choices=["docs", "emb", "all"],
        default="docs",
        help="docs = the r13 BPE/UniMax probe (default, unchanged); "
        "emb = the r14 embedding-tier probe (SemDeDup / D4 / IVF-PQ "
        "over 10x/100x replicated vector corpora + cell-skew readout)",
    )
    args = ap.parse_args()

    spark = get_spark(
        app_name="docs-decade-probe",
        extra_conf={"spark.ui.enabled": "true"},  # byte readout needs the REST API
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.tier in ("emb", "all"):
        rc = run_emb_tier(spark, args.reps)
        if args.tier == "emb":
            shutil.rmtree(
                f"/tmp/ntis_decade_probe_{os.getpid()}", ignore_errors=True
            )
            return rc

    # BPE at 50k docs is floor-bound (the 10-iteration chain's fixed
    # scheduling cost dominates), so its probe runs TWO more decades —
    # 50k and 500k docs with vocab growing alongside (salted) — to
    # surface the data-dependent term. The corpus pipeline stays at
    # one extra decade: its dup-heavy variant grows banding candidate
    # pairs ~replicas² per duplicate group, and 100 replicas of the
    # SAME text is a degenerate corpus, not a bigger one.
    corpora: dict[str, dict[str, str]] = {
        "bpe_encode_top_tokens": {
            "sf0.01 (500 docs)": "/root/testdata/sf0.01",
            "sf0.1 (5k docs)": SF_BASE,
            "salted 10x (50k docs, vocab ~10x)": build_corpus(
                spark, "salted", 10
            ),
            "salted 100x (500k docs, vocab ~100x)": build_corpus(
                spark, "salted", 100
            ),
        },
        "pipeline_unimax_corpus": {
            "sf0.01 (500 docs)": "/root/testdata/sf0.01",
            "sf0.1 (5k docs)": SF_BASE,
            "ident 10x (50k docs, dup-heavy, const vocab)": build_corpus(
                spark, "ident", 10
            ),
            "salted 10x (50k docs, near-dup-free)": build_corpus(
                spark, "salted", 10
            ),
        },
    }
    results: dict = {}
    for q in QUERIES:
        results[q] = {}
        for tag, sf_dir in corpora[q].items():
            r = time_query(spark, q, sf_dir, args.reps)
            results[q][tag] = r
            print(f"{q:28s} {tag:46s} wall={r['wall_s']:8.3f}s "
                  f"bytes={r['shuffle_bytes_per_rep']}", flush=True)
    print(json.dumps({"probe": "docs_decade", "results": results}))
    shutil.rmtree(f"/tmp/ntis_decade_probe_{os.getpid()}", ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
