"""Driver-style comparison: Spark result vs DuckDB oracle.

Mirrors the documented driver check: row count + schema (column names)
+ order-insensitive value comparison. The driver HASHES values, so the
primary mode here is EXACT — bit-equal floats, not almost-equal. The
old 1e-9-tolerant mode is kept as a secondary diagnostic: when an
exact comparison fails, the error message says whether the tolerant
check would have passed, which separates "accumulation-order /
rounding-boundary flap" (the r6 win_seasonal_decompose /
report_cohort_ltv class — invisible at 1e-9, fatal to the driver's
hash) from a genuine semantic difference.
"""

from __future__ import annotations

import glob
import math
import os

import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duck_connect(sf_dir: str):
    """DuckDB connection with every test table registered as a view —
    the one shared spelling of the oracle-side setup (conftest's duck
    fixture, tools/verify_rotation.py, perfbench)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written scratch corpora (the decade/L3 probes) are
            # directory tables; read their part files recursively.
            p = os.path.join(p, "**", "*.parquet")
            if not glob.glob(p, recursive=True):
                continue  # no part files: absent, like a missing file
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v.item() if hasattr(v, "item") else v, na_action="ignore"
            )
    sort_cols = list(df.columns)
    return df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)


def canon_driver_style(pdf: pd.DataFrame) -> pd.DataFrame:
    """Replicate the driver's rows-only canonicalization: sort the frame
    by EVERY column. This raises TypeError on unhashable cells (list /
    dict / ndarray columns) exactly the way the driver's check did on
    ml_propensity_model's array<double> column in CORRECTNESS_r06 —
    run it locally on every rows-only output so that class of failure
    surfaces before shipping."""
    if len(pdf.columns) == 0:
        return pdf
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


def _float_eq_exact(x: float, y: float) -> bool:
    if x == y:
        # distinguish -0.0 from 0.0 — a value hash may see them apart
        return x != 0.0 or math.copysign(1.0, x) == math.copysign(1.0, y)
    return False


def compare(
    spark_pdf: pd.DataFrame,
    oracle_pdf: pd.DataFrame,
    name: str,
    exact: bool = True,
) -> None:
    """Assert the two frames match the way the driver's hash would.

    exact=True (default, driver-faithful): floats must be bit-equal.
    exact=False (diagnostic): 1e-9 relative tolerance on floats.
    """
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs "
        f"{sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    a = _normalize(spark_pdf)
    b = _normalize(oracle_pdf)
    for c in a.columns:
        ca, cb = a[c], b[c]
        if pd.api.types.is_float_dtype(ca):
            for i, (x, y) in enumerate(zip(ca, cb)):
                if pd.isna(x) and pd.isna(y):
                    continue
                assert not (pd.isna(x) or pd.isna(y)), (
                    f"{name}.{c}[{i}]: null mismatch {x!r} vs {y!r}"
                )
                if exact:
                    if not _float_eq_exact(x, y):
                        near = math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
                        kind = (
                            "ORDER/ROUNDING flap (within 1e-9 — the class "
                            "the driver's hash catches and a tolerant "
                            "compare hides)"
                            if near
                            else "semantic difference"
                        )
                        raise AssertionError(
                            f"{name}.{c}[{i}]: {x!r} vs {y!r} — {kind}"
                        )
                else:
                    assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9), (
                        f"{name}.{c}[{i}]: {x!r} vs {y!r}"
                    )
        else:
            mism = ca.ne(cb) & ~(ca.isna() & cb.isna())
            assert not mism.any(), (
                f"{name}.{c}: {int(mism.sum())} mismatches, first at row "
                f"{mism.idxmax()}: {ca[mism.idxmax()]!r} vs {cb[mism.idxmax()]!r}"
            )
