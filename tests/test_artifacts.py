"""r15 artifact store (VERDICT r14 #3): content-addressed,
build-if-absent persistence for index/model artifacts.

The contract under test: a hit returns exactly what the build returned
(bit-identical doubles — literal-embedding consumers depend on it), a
changed input or parameter changes the key (stale reuse is
structurally impossible), and the build runs at most once per key.
"""

from __future__ import annotations

import json
import os

import pytest

from nyc_traffic_insight_spark import artifacts


@pytest.fixture()
def art_root(tmp_path, monkeypatch):
    monkeypatch.setenv("NTIS_ARTIFACT_DIR", str(tmp_path / "arts"))
    return tmp_path


def _mk_table(tmp_path, name, payload: bytes):
    sf = tmp_path / "sf"
    sf.mkdir(exist_ok=True)
    (sf / f"{name}.parquet").write_bytes(payload)
    return str(sf)


def test_build_once_then_hit(art_root):
    sf = _mk_table(art_root, "embeddings", b"v1-bytes")
    calls = []

    def build():
        calls.append(1)
        return {"vals": [0.1, 1e-17, -3.25, 2**53 - 1]}

    a = artifacts.cached_json("t", sf, ["embeddings"], {"k": 10}, build)
    b = artifacts.cached_json("t", sf, ["embeddings"], {"k": 10}, build)
    assert len(calls) == 1
    assert a == b
    # doubles round-trip bit-identically through the JSON layer
    assert b["vals"][1] == 1e-17 and b["vals"][2] == -3.25


def test_key_changes_with_data_params_and_name(art_root):
    sf1 = _mk_table(art_root, "embeddings", b"v1-bytes")
    p1 = artifacts.artifact_path("t", sf1, ["embeddings"], {"k": 10})
    p2 = artifacts.artifact_path("t", sf1, ["embeddings"], {"k": 11})
    p3 = artifacts.artifact_path("u", sf1, ["embeddings"], {"k": 10})
    (sf1 + "/embeddings.parquet")
    with open(os.path.join(sf1, "embeddings.parquet"), "wb") as f:
        f.write(b"v2-bytes")
    p4 = artifacts.artifact_path("t", sf1, ["embeddings"], {"k": 10})
    assert len({p1, p2, p3, p4}) == 4


def test_torn_file_rebuilds(art_root):
    sf = _mk_table(art_root, "embeddings", b"v1-bytes")
    path = artifacts.artifact_path("t", sf, ["embeddings"], {})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write('{"truncated": ')  # torn write from a killed process
    got = artifacts.cached_json("t", sf, ["embeddings"], {}, lambda: [1, 2])
    assert got == [1, 2]
    with open(path) as f:
        assert json.load(f) == [1, 2]


def test_ivf_centroids_artifact_roundtrip(spark):
    """The real consumer: a fresh load from disk must give the same
    literals a fresh in-session build gives (the oracle embeds them)."""
    import nyc_traffic_insight_spark.queries.textops as t
    from nyc_traffic_insight_spark import session
    from tests.conftest import SF_SMOKE

    memo = (spark.sparkContext.applicationId, "ivf_centroids", SF_SMOKE)
    session._HELD.pop(memo, None)
    first = t._ivf_centroids(spark, SF_SMOKE)  # artifact hit or build
    assert session._HELD.pop(memo) is first
    second = t._ivf_centroids(spark, SF_SMOKE)  # guaranteed disk hit
    assert first == second
    assert all(len(vec) == t._DIM for _, vec in second)
