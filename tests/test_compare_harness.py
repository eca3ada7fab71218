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


def test_rotation_front_names_all_exist():
    """load_all() raises a loud ValueError for _CHECK_FIRST names
    missing from the registry, so a typo cannot quietly drop a query
    from the driver's check rotation (the evidence-debt failure mode
    VERDICT r5 #1 was about). This test double-checks that raise path
    stays unreachable on the committed list — and pins no duplicates,
    which load_all does NOT police."""
    from nyc_traffic_insight_spark.queries import _CHECK_FIRST, load_all

    reg = load_all()
    missing = [n for n in _CHECK_FIRST if n not in reg]
    assert not missing, f"_CHECK_FIRST names not in registry: {missing}"
    assert len(set(_CHECK_FIRST)) == len(_CHECK_FIRST), "duplicate rotation names"


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
