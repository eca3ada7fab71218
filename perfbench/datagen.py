"""Seeded generator for the ten input tables the query catalog reads.

The tables follow the shapes of the package's TPC-H-ish test schemas
(``nyc_traffic_insight_spark.schemas.TESTDATA_SCHEMAS``): the same
columns, types, key ranges, and value domains, with row counts scaled by
``sf`` (sf0.1 = 600k ``lineitem`` rows).  Every value comes from one
``numpy`` generator seeded with ``seed``, so a (sf, seed) pair always
yields byte-identical parquet files.

``ensure_tables`` builds the set once per checkout into a directory keyed
by (sf, seed, this file's source hash) and reuses it afterwards; a
half-written build never becomes visible because it is renamed into
place only when complete.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMB_DIM = 64


def _micros(day: str) -> int:
    return (date.fromisoformat(day) - date(1970, 1, 1)).days * 86_400_000_000


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    a, b = _micros(lo) // 86_400_000_000, _micros(hi) // 86_400_000_000
    d = rng.integers(a, b + 1, n, dtype=np.int64) * 86_400_000_000
    return pa.array(d, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(
            rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = ["large", "small", "hot", "cold", "red", "blue", "new", "old"]
    noun = ["ring", "bolt", "anvil", "plate", "rod", "gear", "nut", "pipe"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, [f"{a} {b}" for a in adj for b in noun], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(
            rng, ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["N", "R", "A"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    t0 = _micros("2024-01-01")
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
        "event_type": _pick(rng, ["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.asarray(_WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n_doc)
    ]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] += " dup"
    for i in rng.choice(n_doc, max(2, n_doc // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    v = rng.standard_normal((n_emb, _EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return t


def _source_hash() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def ensure_tables(root: str, sf: float, seed: int) -> str:
    """Directory holding ``<table>.parquet`` for every table at (sf, seed);
    generated on first use."""
    out = os.path.join(root, f"sf{sf}-seed{seed}-{_source_hash()}")
    if os.path.isdir(out):
        return out
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=root, prefix=".gen-")
    try:
        for name, table in generate(sf, seed).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # else a concurrent build won: reuse it
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
