"""The mid assignment level of the scale-k SemDeDup index.

For m > 1 the index assigns label → mid-group rep → sub-cell: a
mid-group is g consecutive cos-buckets, its rep the group's MEDIAN
member sub-centroid, with g = ceil(sqrt(m)) once
m >= _SEMDEDUP_L3_MIN_M and g = m below it (one mid-group per label,
so the assignment is nearest label → nearest of that label's
sub-cells). Every gate-checked SF has m = 1 and takes the flat
shape; the oracle text carries the same general form.

These tests force g = ceil(sqrt(m)) on the sf0.001 corpus by
shrinking the occupancy constants (m = 25 >= patched gate, g = 5) and
run the full CROSS-ENGINE differential: the Spark frame vs the DuckDB
oracle chain regenerated under the same patched constants. That is
the same evidence class as the correctness gate, on the code path the
gate's m = 1 corpora can never reach; tests/test_semdedup_scale_k.py
covers the g = m case (m = 3).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare, duck_connect

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture()
def l3_consts(monkeypatch):
    """Shrink the scale-k constants so sf0.001 (n=500) builds a
    three-level index: DIV=20 -> m=25, gate=2 -> L3 active, g=5.
    occ rides the artifact cache key, so the patched index can never
    collide with another test's occ=200 artifact in this session."""
    import nyc_traffic_insight_spark.queries.embcurate as ec

    monkeypatch.setattr(ec, "_SEMDEDUP_TARGET_OCC", 2)
    monkeypatch.setattr(ec, "_SEMDEDUP_DIV", 20)
    monkeypatch.setattr(ec, "_SEMDEDUP_L3_MIN_M", 2)
    return ec


def test_l3_index_engages(spark, l3_consts):
    ec = l3_consts
    idx = ec._semdedup_index(spark, SF_SMOKE)
    assert idx["m"] == 25  # ceil(500 / 20)
    # occupied sub-cells only; strictly more cells than labels
    assert len(idx["cells"]) > len(idx["labels"])


def test_l3_dedup_semantic_matches_oracle(spark, l3_consts):
    ec = l3_consts
    got = ec.semdedup_frame(
        ec._embs(spark, SF_SMOKE),
        ec._semdedup_index(spark, SF_SMOKE),
        ec._SEMDEDUP_THRESH,
    ).toPandas()
    con = duck_connect(SF_SMOKE)
    try:
        # regenerated under the patched constants -> three-level text
        want = con.sql(ec.dedup_semantic_oracle_sql()).df()
    finally:
        con.close()
    compare(got, want, "dedup_semantic[l3]")


def test_l3_prototypes_matches_oracle(spark, l3_consts):
    ec = l3_consts
    got = ec.proto_filter_frame(
        ec._embs(spark, SF_SMOKE), ec._semdedup_index(spark, SF_SMOKE)
    ).toPandas()
    con = duck_connect(SF_SMOKE)
    try:
        want = con.sql(ec.emb_prototypes_oracle_sql()).df()
    finally:
        con.close()
    compare(got, want, "emb_prototypes_filter[l3]")


def test_registered_oracle_text_carries_degenerate_gate():
    """The REGISTERED oracle texts carry the general three-level form
    with the g = m degeneracy CASE, so the driver's m = 1 corpora run
    the same text the probe scales do."""
    import nyc_traffic_insight_spark.queries.embcurate as ec

    txt = ec.dedup_semantic_oracle_sql()
    assert f"WHEN m >= {ec._SEMDEDUP_L3_MIN_M}" in txt
    assert "ELSE m END AS g" in txt
    assert "rn = cnt // 2 + 1" in txt  # median-member rep selection
