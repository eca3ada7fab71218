"""operators/multimodal: Arrow-batched decode/extract plumbing.

The codec is a deterministic fake (sha256-derived features) but the
Spark-side contract — binary column in, typed feature rows out,
per-row error capture, frame fan-out — is the real thing a cluster
with codecs installed would run unchanged.
"""

from __future__ import annotations

import hashlib

import numpy as np

from nyc_traffic_insight_spark.operators import multimodal
from nyc_traffic_insight_spark.operators.multimodal import (
    extract_features,
    sample_video_frames,
    _fake_decode,
)

ASSETS_SCHEMA = (
    "asset_id LONG, modality STRING, payload BINARY, duration_ms LONG"
)


def _assets(spark):
    return spark.createDataFrame(
        [
            (1, "image", b"pixels-go-here", None),
            (2, "audio", b"pcm-bytes", None),
            (3, "video", b"h264-ish", 3500),
            (4, "image", None, None),  # null payload must not kill the job
        ],
        ASSETS_SCHEMA,
    )


def test_extract_features_deterministic(spark):
    out = extract_features(_assets(spark)).collect()
    by_id = {r["asset_id"]: r for r in out}
    assert len(by_id) == 4 and all(r["ok"] for r in out)
    # features match the documented derivation exactly
    h = hashlib.sha256(b"pixels-go-here").digest()
    want = np.frombuffer(h[:32], dtype="<u2").astype(np.float64) / 65535.0
    assert by_id[1]["features"] == [float(x) for x in want]
    assert by_id[1]["feat_dim"] == 16
    # null payload decodes as empty bytes, deterministically
    assert by_id[4]["features"] == [
        float(x) for x in _fake_decode(b"", "image")
    ]


def test_extract_features_partition_invariant(spark):
    a = extract_features(_assets(spark)).collect()
    b = extract_features(_assets(spark).repartition(7)).collect()
    key = lambda r: r["asset_id"]
    assert sorted(a, key=key) == sorted(b, key=key)


def test_decode_errors_are_rows_not_failures(spark, monkeypatch):
    def broken(payload: bytes, modality: str):
        if modality == "audio":
            raise ValueError("no audio codec")
        return _fake_decode(payload, modality)

    monkeypatch.setattr(multimodal, "_DECODER", broken)
    out = {r["asset_id"]: r for r in extract_features(_assets(spark)).collect()}
    assert out[2]["ok"] is False
    assert "no audio codec" in out[2]["decode_error"]
    assert out[2]["features"] is None
    assert out[1]["ok"] is True  # other rows unaffected


def test_sample_video_frames(spark):
    frames = sample_video_frames(_assets(spark), every_ms=1000).collect()
    got = sorted((r["asset_id"], r["frame_ms"]) for r in frames)
    assert got == [(3, 0), (3, 1000), (3, 2000), (3, 3000)]


def test_mm_dedup_frames_prefix_overlap(spark):
    """r14 live branch: the same video content at two durations (a
    clip and its prefix trim — the case whole-file hashing misses and
    frame overlap exists to catch). doc_ids 2 and 5 are both videos
    (mod 3 == 2); same text + different n_chars gives durations 6000
    vs 9000 ms (duration = 1000 + (n_chars·7) % 9000: 2000 → 6000 ms,
    5000 → 9000 ms) → frame sets of 6 and 9 where the 6 are a prefix
    subset → common 6, Jaccard 6/9 ≈ 0.6667 in BOTH engines. A third video
    with different text shares nothing and must not pair."""
    import duckdb

    import nyc_traffic_insight_spark.queries.multimodalq as mm

    texts = [
        (2, "same clip content", 2000),
        (5, "same clip content", 5000),
        (8, "entirely different film", 2000),
    ]
    sdf = spark.createDataFrame(
        texts, "doc_id long, text string, n_chars long"
    )
    orig = mm._docs
    try:
        mm._docs = lambda _s, _d: sdf
        spdf = mm.mm_dedup_frames(spark, "unused").toPandas()
    finally:
        mm._docs = orig
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs(doc_id BIGINT, text VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?, ?)", texts)
    odf = con.sql(mm.frames_oracle_sql("docs")).fetchdf()
    from tests.oracle_utils import compare

    compare(spdf, odf, "mm_dedup_frames[synthetic]")
    assert len(spdf) == 1
    row = spdf.iloc[0]
    assert (row.video1, row.video2) == (2, 5)
    assert row.common_frames == 6
    assert abs(row.jaccard - 6 / 9) < 1e-4


def test_mm_dedup_frames_plan_is_distributed(spark):
    """The fingerprint join is the phash lesson applied from birth:
    no CollectList bucket arrays, no cartesian — a plain equi-join on
    the 60-bit fingerprint."""
    from nyc_traffic_insight_spark.queries.multimodalq import (
        mm_dedup_frames,
    )
    from tests.conftest import SF_SMOKE

    df = mm_dedup_frames(spark, SF_SMOKE)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CollectList" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
