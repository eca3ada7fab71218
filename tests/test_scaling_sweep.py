"""Smoke for tools/scaling_sweep.py (the round-7 scaling ritual).

The full sweep (the bench HEADLINE set, sf0.01 -> sf0.1, median-of-3) is a
round ritual, not a suite member — here the tool runs end to end on two
cheap queries across the two smallest SFs with one rep, pinning that:
the CLI parses, both measurement passes run, the per-query ratios and
the final JSON line are emitted, and a clean run exits 0. The input
transforms (``--replicate``, ``--row-groups``) are pinned on the sf0.001
tables: replica counts, id disjointness, determinism, the row-group
layout, and the refusal to write into an existing directory.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
sys.path.insert(0, ROOT)

import scaling_sweep  # noqa: E402
from nyc_traffic_insight_spark.sources.catalog import parquet_row_groups  # noqa: E402

LO = "/root/testdata/sf0.001"


def test_sweep_smoke_two_queries(spark, capsys, monkeypatch):
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "scaling_sweep.py",
            "--only", "agg_count,text_fingerprint",
            "--lo", "/root/testdata/sf0.001",
            "--hi", "/root/testdata/sf0.01",
            "--reps", "1",
        ],
    )
    rc = scaling_sweep.main()
    out = capsys.readouterr().out
    assert rc == 0
    # last non-empty line is the JSON record
    line = [ln for ln in out.splitlines() if ln.strip()][-1]
    rec = json.loads(line)
    assert rec["metric"] == "scaling_sweep"
    assert rec["data_ratio"] == 10.0
    assert rec["flagged"] == []
    assert set(rec["queries"]) == {"agg_count", "text_fingerprint"}
    for q in rec["queries"].values():
        assert q["wall_lo"] > 0 and q["wall_hi"] > 0
    # the markdown table rendered one row per query
    assert "| agg_count |" in out and "| text_fingerprint |" in out


def test_sf_of_parses_dir_names():
    assert scaling_sweep._sf_of("/root/testdata/sf0.01") == 0.01
    assert scaling_sweep._sf_of("/root/testdata/sf0.1/") == 0.1


def _rows(spark, sf_dir, table):
    return sorted(map(tuple, spark.read.parquet(f"{sf_dir}/{table}.parquet").collect()))


@pytest.mark.parametrize("arg", ["documents=3", "embeddings=3:perturbed"])
def test_replicate_derives_k_disjoint_copies(spark, tmp_path, arg):
    table, k, perturbed = scaling_sweep._replication(arg)
    key = scaling_sweep.ID_COLUMN[table]
    for d in ("a", "b"):
        scaling_sweep.derive(spark, LO, str(tmp_path / d), (table, k, perturbed), None)
    base = spark.read.parquet(f"{LO}/{table}.parquet")
    got = spark.read.parquet(str(tmp_path / "a" / f"{table}.parquet"))
    n = base.count()
    assert got.count() == 3 * n
    assert got.select(key).distinct().count() == 3 * n  # replica ids are disjoint
    replica0 = got.where(got[key] < scaling_sweep.ID_OFFSET)
    assert sorted(map(tuple, replica0.collect())) == sorted(map(tuple, base.collect()))
    assert _rows(spark, tmp_path / "a", table) == _rows(spark, tmp_path / "b", table)
    assert os.path.islink(tmp_path / "a" / "lineitem.parquet")


def test_row_groups_rewrites_lineitem_and_orders(spark, tmp_path, capsys, monkeypatch):
    hi = str(tmp_path / "rg4")
    monkeypatch.setattr(sys, "argv", [
        "scaling_sweep.py", "--only", "agg_count", "--lo", LO, "--hi", hi,
        "--reps", "1", "--row-groups", "4",
    ])
    assert scaling_sweep.main() == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["data_ratio"] == 1
    for name in scaling_sweep.ROW_GROUP_TABLES:
        assert parquet_row_groups(hi, name) == 4
        assert _rows(spark, hi, name) == _rows(spark, LO, name)
    untouched = set(os.listdir(LO)) - {f"{t}.parquet" for t in scaling_sweep.ROW_GROUP_TABLES}
    assert untouched and untouched <= set(os.listdir(hi))
    for entry in untouched:
        assert os.path.realpath(os.path.join(hi, entry)) == os.path.realpath(
            os.path.join(LO, entry))


@pytest.mark.parametrize("transform", [["--replicate", "documents=2"], ["--row-groups", "2"]])
def test_transform_refuses_an_existing_hi(tmp_path, monkeypatch, transform):
    (tmp_path / "keep.txt").write_text("x")
    monkeypatch.setattr(sys, "argv", [
        "scaling_sweep.py", "--lo", LO, "--hi", str(tmp_path), *transform])
    with pytest.raises(SystemExit) as e:
        scaling_sweep.main()
    assert e.value.code != 0
    assert os.listdir(tmp_path) == ["keep.txt"]
