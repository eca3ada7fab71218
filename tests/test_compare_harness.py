"""Meta-test: the differential comparator must actually catch defects.

If compare() silently normalized away real differences, every green
oracle row would be meaningless — so corrupt each aspect it claims to
check and assert it raises."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.oracle_utils import compare

BASE = pd.DataFrame(
    {"k": [1, 2, 3], "v": [1.5, 2.5, 3.5], "s": ["a", "b", "c"]}
)


def test_passes_on_identical_and_reordered():
    compare(BASE, BASE.copy(), "id")
    compare(BASE.iloc[[2, 0, 1]].reset_index(drop=True), BASE, "reorder")


def test_catches_value_corruption():
    bad = BASE.copy()
    bad.loc[1, "v"] = 2.5000001
    with pytest.raises(AssertionError):
        compare(bad, BASE, "float_drift")
    bad2 = BASE.copy()
    bad2.loc[0, "s"] = "z"
    with pytest.raises(AssertionError):
        compare(bad2, BASE, "string_swap")


def test_catches_row_count_and_schema_drift():
    with pytest.raises(AssertionError):
        compare(BASE.iloc[:2], BASE, "missing_row")
    with pytest.raises(AssertionError):
        compare(BASE.rename(columns={"v": "value"}), BASE, "renamed_col")


def test_catches_null_flip():
    bad = BASE.copy()
    bad.loc[2, "v"] = None
    with pytest.raises(AssertionError):
        compare(bad, BASE, "null_flip")


def test_samplingq_imports_standalone():
    """Import samplingq FIRST in a fresh interpreter. load_all() (and
    most of the suite) always imports textops before samplingq, so a
    module-evaluation-order regression in the cross-module oracle
    composition (samplingq's unimax register pulls textops; textops'
    pretrain-order oracle reaches back) only surfaces for consumers
    that import samplingq directly — exactly the ImportError the r13
    promotions introduced and the lazy-oracle mechanism removed.
    This subprocess pin keeps the whole class caught in CI."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            "import nyc_traffic_insight_spark.queries.samplingq",
        ],
        capture_output=True,
        text=True,
        cwd=root,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]


def test_rotation_order_rule(tmp_path, monkeypatch):
    """Changed or unrecorded entries first, then unchanged ones; each
    group by recorded round ascending, ties in registry order."""
    import json

    from nyc_traffic_insight_spark.queries import rotation

    manifest = {
        "a": [12, "fa"], "b": [10, "old"], "c": [12, "fc"],
        "d": [11, "fd"], "e": [12, "old"], "g": [9, None],
    }
    (tmp_path / "rotation.json").write_text(json.dumps(manifest))
    monkeypatch.setattr(rotation, "MANIFEST", str(tmp_path / "rotation.json"))
    monkeypatch.setattr(rotation, "CURRENT", {n: f"f{n}" for n in "abcdefg"})
    order = rotation.order(dict.fromkeys("abcdefg"))
    assert order == ["f", "g", "b", "e", "d", "a", "c"]


def test_load_all_is_the_rotation_order():
    import json

    from nyc_traffic_insight_spark.queries import load_all, rotation

    reg = load_all()
    with open(rotation.MANIFEST) as f:
        manifest = json.load(f)
    rank = [
        (manifest.get(n, [0, None])[1] == rotation.CURRENT.get(n),
         manifest.get(n, [0])[0])
        for n in reg
    ]
    assert rank == sorted(rank)


def test_rotation_manifest_names_registered_queries():
    """A manifest entry for a name the registry lacks (a typo, or a
    query renamed without re-recording) would never front anything."""
    import json

    from nyc_traffic_insight_spark.queries import load_all, rotation

    with open(rotation.MANIFEST) as f:
        unknown = set(json.load(f)) - set(load_all())
    assert not unknown, f"rotation.json names unregistered queries: {unknown}"


def _stub(spark, sf_dir):
    raise AssertionError("fingerprinted, never called")


@pytest.mark.parametrize(
    "patch, reacher",
    [
        ("textops._wide_table", "text_perplexity_proxy"),
        ("events.tumbling_counts", "stream_tumbling_counts"),
        ("REGISTRY.sim_search_bruteforce_topk", "sim_search_ivf_kmeans"),
    ],
)
def test_fingerprint_follows_reached_code(monkeypatch, patch, reacher):
    """Through a module global, a function-local import and a
    ``REGISTRY["…"].builder`` string, respectively."""
    from dataclasses import replace

    from nyc_traffic_insight_spark.queries import load_all, rotation, textops
    from nyc_traffic_insight_spark.streaming import events

    reg = load_all()
    before = rotation.fingerprints(reg)
    owner, attr = patch.split(".")
    if owner == "REGISTRY":
        monkeypatch.setitem(reg, attr, replace(reg[attr], builder=_stub))
    else:
        monkeypatch.setattr({"textops": textops, "events": events}[owner], attr, _stub)
    after = rotation.fingerprints(reg)
    assert after[reacher] != before[reacher]
    assert after["agg_count"] == before["agg_count"]


@pytest.mark.parametrize(
    "old, new, moves",
    [
        ("(see above).", "(reworded).", False),  # docstring only
        ("    df = load_table(spark, sf_dir, name)\n",
         "    # a new comment\n    df = load_table(spark, sf_dir, name)  # here too\n",
         False),
        ("rg >= para", "rg > para", True),  # one code token
    ],
)
def test_fingerprint_ignores_docstrings_and_comments(monkeypatch, old, new, moves):
    """An edit to ``textops._wide_table`` moves the fingerprint of a
    query that reaches it only when it changes code."""
    import inspect

    from nyc_traffic_insight_spark.queries import load_all, rotation, textops

    reg = load_all()
    before = rotation.fingerprints(reg)
    getsource = inspect.getsource

    def edited(obj):
        text = getsource(obj)
        if obj is textops:
            assert old in text
            text = text.replace(old, new, 1)
        return text

    monkeypatch.setattr(inspect, "getsource", edited)
    after = rotation.fingerprints(reg)
    assert (after["text_perplexity_proxy"] != before["text_perplexity_proxy"]) is moves
    assert after["agg_count"] == before["agg_count"]


def test_fingerprints_ignore_hash_seed_and_checkout_path(tmp_path):
    import json
    import os
    import shutil
    import subprocess
    import sys

    from nyc_traffic_insight_spark.queries import load_all

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(
        os.path.join(root, "nyc_traffic_insight_spark"),
        tmp_path / "nyc_traffic_insight_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    code = (
        "import json, nyc_traffic_insight_spark as p\n"
        "from nyc_traffic_insight_spark.queries import load_all, rotation\n"
        "load_all()\n"
        "print(json.dumps([p.__file__, rotation.CURRENT]))"
    )
    runs = []
    for cwd, seed in ((root, "1"), (tmp_path, "2")):
        env = dict(os.environ, PYTHONHASHSEED=seed, PYTHONPATH="")
        r = subprocess.run(
            [sys.executable, "-c", code], cwd=cwd, env=env,
            capture_output=True, text=True, timeout=120,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        runs.append(json.loads(r.stdout.splitlines()[-1]))
    (path_a, fp_a), (path_b, fp_b) = runs
    assert path_b.startswith(str(tmp_path)) and not path_a.startswith(str(tmp_path))
    assert fp_a == fp_b
    assert len(fp_a) == len(load_all())


def test_fingerprints_ignore_import_order():
    """A process that imports more of the package than ``load_all()``
    does (a test session, a tool that imports ``serving`` first)
    computes the same fingerprints. Importing a submodule sets it as an
    attribute of its parent package, so a closure that followed any
    module attribute would grow with what the process imported."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import importlib, json, pkgutil, nyc_traffic_insight_spark as p\n"
        "from nyc_traffic_insight_spark.queries import load_all, rotation\n"
        "reg = load_all()\n"
        "before = rotation.fingerprints(reg)\n"
        "for m in pkgutil.walk_packages(p.__path__, p.__name__ + '.'):\n"
        "    importlib.import_module(m.name)\n"
        "after = rotation.fingerprints(reg)\n"
        "print(json.dumps(sorted(n for n in before if before[n] != after[n])))"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=dict(os.environ, PYTHONPATH=""),
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.splitlines()[-1]) == []


def test_duck_connect_skips_directory_without_part_files(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_utils import duck_connect

    (tmp_path / "events.parquet").mkdir()  # e.g. an aborted Spark write
    (tmp_path / "orders.parquet").mkdir()
    pq.write_table(
        pa.table({"o_orderkey": [1, 2]}),
        str(tmp_path / "orders.parquet" / "part-0.parquet"),
    )
    con = duck_connect(str(tmp_path))
    views = {
        r[0] for r in con.execute("SELECT view_name FROM duckdb_views()").fetchall()
    }
    assert "orders" in views and "events" not in views
    assert con.execute("SELECT count(*) FROM orders").fetchone()[0] == 2
