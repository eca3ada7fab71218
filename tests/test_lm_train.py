"""lm_train_bigram / lm_score_perplexity (round-10 preview):
differential tests.

The pair's claim is a Laplace-smoothed bigram LM trained on the corpus
and the corpus scored under it, identical across three engines. These
tests pin the whole chain against an independent Python implementation
of standard open-vocabulary bigram modeling:

1. the generated DuckDB oracle text vs Python on the BPE test corpora
   (which already stress the shared tokenization: whitespace edges,
   unicode, casefold);
2. the Spark pipeline vs Python on the same corpora;
3. Spark vs DuckDB, row-exact, on the real sf0.001 documents table;
4. a tiny vocabulary cap so the '<unk>' path carries real weight.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest

from nyc_traffic_insight_spark.queries.tokenizers import (
    _LM_TOPK,
    _LM_VOCAB,
    lm_oracle_sql,
    lm_score_oracle_sql,
    lm_score_perplexity,
    lm_train_bigram,
)
from tests.test_bpe_train import _ASCII_FOLD, CORPORA


def _r4(x: float) -> float:
    # floor-form round (strictly positive inputs), matching _lm_r4
    return math.floor(x * 10000.0 + 0.5) / 10000.0


def _lm_ref_model(texts, cap):
    """Independent reference: tokenize (ASCII fold + ASCII whitespace,
    matching _BPE_UP/_BPE_LO and _BPE_WS), cap the vocabulary by
    (count DESC, word ASC), unk-map, count bigrams/contexts."""
    doc_toks = [
        [
            w
            for w in re.split("[ \t\n\r\x0b\f]+", t.translate(_ASCII_FOLD))
            if w
        ]
        for t in texts
    ]
    counts = Counter(w for toks in doc_toks for w in toks)
    vocab = {
        w
        for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            :cap
        ]
    }
    vs = len(vocab) + 1
    mapped = [
        [w if w in vocab else "<unk>" for w in toks] for toks in doc_toks
    ]
    bg: Counter = Counter()
    for toks in mapped:
        for i in range(len(toks) - 1):
            bg[(toks[i], toks[i + 1])] += 1
    ctx: Counter = Counter()
    for (w1, _), c in bg.items():
        ctx[w1] += c
    return mapped, bg, ctx, vs


def _lm_train_ref(texts, cap, topk):
    mapped, bg, ctx, vs = _lm_ref_model(texts, cap)
    rows = [
        (w1, w2, c, ctx[w1], _r4(math.log(ctx[w1] + vs) - math.log(c + 1)))
        for (w1, w2), c in bg.items()
    ]
    rows.sort(key=lambda r: (-r[2], r[0], r[1]))
    return rows[:topk]


def _lm_score_ref(texts, cap):
    mapped, bg, ctx, vs = _lm_ref_model(texts, cap)
    out = []
    for doc_id, toks in enumerate(mapped):
        if len(toks) < 2:
            continue
        # integer-tick accumulation, matching _lm_score_select's
        # order-free BIGINT sum (ADVICE r11): quantize each pair's neg
        # log-prob to 1e-6 ticks, sum exactly, divide once
        ticks = [
            math.floor(
                (
                    math.log(ctx[toks[i]] + vs)
                    - math.log(bg[(toks[i], toks[i + 1])] + 1)
                )
                * 1e6
                + 0.5
            )
            for i in range(len(toks) - 1)
        ]
        out.append(
            (
                doc_id,
                len(ticks),
                _r4(math.exp(sum(ticks) / (len(ticks) * 1e6))),
            )
        )
    return sorted(out)


def _duck_on(texts):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    if texts:  # executemany rejects an empty parameter list
        con.executemany(
            "INSERT INTO docs VALUES (?, ?)", list(enumerate(texts))
        )
    return con


# a small cap so the capped-vocabulary + <unk> path is exercised hard
# on every corpus (at the default 2000 these corpora never overflow)
_TINY_CAP = 3


@pytest.mark.parametrize("cap", [_TINY_CAP, _LM_VOCAB])
@pytest.mark.parametrize("name", sorted(CORPORA))
def test_train_oracle_matches_python_reference(name, cap):
    texts = CORPORA[name]
    con = _duck_on(texts)  # keep the ref: GC closes the conn
    got = con.sql(lm_oracle_sql("docs", cap=cap)).fetchall()
    assert got == _lm_train_ref(texts, cap, _LM_TOPK), (name, cap)


@pytest.mark.parametrize("cap", [_TINY_CAP, _LM_VOCAB])
@pytest.mark.parametrize("name", sorted(CORPORA))
def test_score_oracle_matches_python_reference(name, cap):
    texts = CORPORA[name]
    con = _duck_on(texts)  # keep the ref: GC closes the conn
    got = sorted(con.sql(lm_score_oracle_sql("docs", cap=cap)).fetchall())
    assert got == _lm_score_ref(texts, cap), (name, cap)


def test_random_corpora_match_python_reference():
    """Randomized DuckDB-vs-Python sweep at a tiny cap: dense unk
    traffic, count ties resolved lexicographically, repeated pairs."""
    import random

    rng = random.Random(41)
    for trial in range(8):
        texts = [
            " ".join(
                rng.choice(["aa", "ab", "ba", "bb", "cc", "dd", "e"])
                for _ in range(rng.randint(2, 30))
            )
            for _ in range(rng.randint(1, 5))
        ]
        con = _duck_on(texts)
        got_t = con.sql(lm_oracle_sql("docs", cap=_TINY_CAP)).fetchall()
        assert got_t == _lm_train_ref(texts, _TINY_CAP, _LM_TOPK), trial
        got_s = sorted(
            con.sql(lm_score_oracle_sql("docs", cap=_TINY_CAP)).fetchall()
        )
        assert got_s == _lm_score_ref(texts, _TINY_CAP), trial


def _write_docs(tmp_path, name, texts):
    import pandas as pd

    sf_dir = tmp_path / f"sf_lm_{name}"
    sf_dir.mkdir()
    pd.DataFrame(
        {
            "doc_id": pd.array(range(len(texts)), dtype="int64"),
            "source": pd.array(["t"] * len(texts), dtype="string"),
            "text": pd.array(texts, dtype="string"),
        }
    ).to_parquet(sf_dir / "documents.parquet")
    return str(sf_dir)


@pytest.mark.parametrize("name", sorted(CORPORA))
def test_spark_matches_python_reference(spark, name, tmp_path):
    texts = CORPORA[name]
    sf_dir = _write_docs(tmp_path, name, texts)
    got_t = [
        (r["w1"], r["w2"], r["pair_cnt"], r["ctx_cnt"], r["neg_logp"])
        for r in lm_train_bigram(spark, sf_dir, cap=_TINY_CAP).collect()
    ]
    assert got_t == _lm_train_ref(texts, _TINY_CAP, _LM_TOPK), name
    got_s = sorted(
        (r["doc_id"], r["n_bigrams"], r["ppl"])
        for r in lm_score_perplexity(spark, sf_dir, cap=_TINY_CAP).collect()
    )
    assert got_s == _lm_score_ref(texts, _TINY_CAP), name


def test_spark_matches_duckdb_on_testdata(spark):
    from tests.conftest import SF_SMOKE
    from tests.oracle_utils import duck_connect

    con = duck_connect(SF_SMOKE)  # keep the ref: GC closes the conn
    got_t = [
        (r["w1"], r["w2"], r["pair_cnt"], r["ctx_cnt"], r["neg_logp"])
        for r in lm_train_bigram(spark, SF_SMOKE).collect()
    ]
    want_t = con.sql(lm_oracle_sql("documents")).fetchall()
    assert got_t == want_t
    assert len(got_t) == _LM_TOPK  # the real corpus fills the top-k
    got_s = sorted(
        (r["doc_id"], r["n_bigrams"], r["ppl"])
        for r in lm_score_perplexity(spark, SF_SMOKE).collect()
    )
    want_s = sorted(con.sql(lm_score_oracle_sql("documents")).fetchall())
    assert got_s == want_s
    # scores are a real spread, not a constant (the model learned
    # something): at least two distinct perplexities
    assert len({p for _, _, p in got_s}) > 1


def test_empty_and_degenerate_corpora(spark, tmp_path):
    """Engine agreement on the degenerate paths: empty corpus (no
    model, no scores), single-token and empty documents (absent from
    the score output), and a corpus that never overflows the cap."""
    cases = {
        "empty": [],
        "short_docs": ["solo", "", "  ", "two tokens", "two tokens two"],
    }
    for name, texts in cases.items():
        sf_dir = _write_docs(tmp_path, name, texts)
        con = _duck_on(texts)
        got_t = [
            (r["w1"], r["w2"], r["pair_cnt"], r["ctx_cnt"], r["neg_logp"])
            for r in lm_train_bigram(spark, sf_dir).collect()
        ]
        want_t = con.sql(lm_oracle_sql("docs")).fetchall()
        assert got_t == want_t == _lm_train_ref(texts, _LM_VOCAB, _LM_TOPK)
        got_s = sorted(
            (r["doc_id"], r["n_bigrams"], r["ppl"])
            for r in lm_score_perplexity(spark, sf_dir).collect()
        )
        want_s = sorted(con.sql(lm_score_oracle_sql("docs")).fetchall())
        assert got_s == want_s == _lm_score_ref(texts, _LM_VOCAB), name
        if name == "short_docs":
            # only the two >=2-token docs are scored
            assert [d for d, _, _ in got_s] == [3, 4]


# hypothesis differential: generated corpora over an alphabet chosen
# to stress every divergence class at once — case edges the ASCII
# fold must NOT map (İ, ß, ς), multibyte code points, the whitespace
# characters _BPE_WS pins, ASCII case pairs the fold MUST map, and
# count ties at the vocab-cap boundary (tiny alphabet → dense ties,
# resolved lexicographically on both engines). DuckDB executes the
# exact fragment text the Spark side stitches, so this fuzzes the
# shared algorithm itself against the independent Python reference.
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover - baked into this container
    _HAVE_HYPOTHESIS = False

if _HAVE_HYPOTHESIS:
    _word = st.text(
        alphabet=["a", "b", "A", "B", "İ", "ß", "ς", "汉", "🚀"],
        min_size=1,
        max_size=6,
    )
    _sep = st.sampled_from([" ", "\t", "\n", "\x0b", "\f", "  "])
    _doc = st.lists(_word, min_size=0, max_size=20).flatmap(
        lambda ws: st.lists(
            _sep, min_size=max(len(ws) - 1, 0), max_size=max(len(ws) - 1, 0)
        ).map(
            lambda seps: "".join(
                w + s for w, s in zip(ws, list(seps) + [""])
            )
        )
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(_doc, min_size=0, max_size=5), st.integers(2, 5))
    def test_hypothesis_oracle_matches_python_reference(texts, cap):
        con = _duck_on(texts)  # keep the ref: GC closes the conn
        got_t = con.sql(lm_oracle_sql("docs", cap=cap)).fetchall()
        assert got_t == _lm_train_ref(texts, cap, _LM_TOPK)
        got_s = sorted(
            con.sql(lm_score_oracle_sql("docs", cap=cap)).fetchall()
        )
        assert got_s == _lm_score_ref(texts, cap)


def test_failed_chain_leaks_no_temp_views(spark, tmp_path):
    """A chain that fails partway (here: at the very first job,
    scanning a directory with no documents.parquet) leaves no
    temporary view behind — a leaked view would pin its materialized
    frame for the session lifetime. Exercised on one builder of each
    family (LM, BPE), then on the success path of two builders that
    once left a fixed-name view behind."""
    from nyc_traffic_insight_spark.queries.aggregates import (
        agg_grouping_sets,
        sketch_qdigest,
    )
    from nyc_traffic_insight_spark.queries.tokenizers import bpe_train_merges
    from tests.conftest import SF_SMOKE

    def temp_views() -> list[str]:
        return [t.name for t in spark.catalog.listTables() if t.isTemporary]

    empty = tmp_path / "no_tables"
    empty.mkdir()
    for fn in (lm_train_bigram, bpe_train_merges):
        with pytest.raises(Exception):
            fn(spark, str(empty))
    assert temp_views() == []
    for fn in (agg_grouping_sets, sketch_qdigest):
        fn(spark, SF_SMOKE).collect()
    assert temp_views() == []


def test_spark_matches_duckdb_on_testdata_cap_bound(spark):
    """ADVICE r11 #4: at the fixture's ~31-word vocabulary the default
    _LM_VOCAB=2000 cap never binds, so the registered queries'
    <unk>-mapping joins are unexercised by the sf correctness gate.
    This is the direct cross-ENGINE witness on the real documents
    table with a cap small enough to bind hard (cap=8 → most tokens
    unk-map), completing the tiny-cap coverage that previously ran
    only against the Python reference."""
    from tests.conftest import SF_SMOKE
    from tests.oracle_utils import duck_connect

    cap = 8
    con = duck_connect(SF_SMOKE)  # keep the ref: GC closes the conn
    got_t = [
        (r["w1"], r["w2"], r["pair_cnt"], r["ctx_cnt"], r["neg_logp"])
        for r in lm_train_bigram(spark, SF_SMOKE, cap=cap).collect()
    ]
    want_t = con.sql(lm_oracle_sql("documents", cap=cap)).fetchall()
    assert got_t == want_t
    # the bound cap actually bit: the model table contains <unk> rows
    assert any(w1 == "<unk>" or w2 == "<unk>" for w1, w2, *_ in got_t)
    got_s = sorted(
        (r["doc_id"], r["n_bigrams"], r["ppl"])
        for r in lm_score_perplexity(spark, SF_SMOKE, cap=cap).collect()
    )
    want_s = sorted(
        con.sql(lm_score_oracle_sql("documents", cap=cap)).fetchall()
    )
    assert got_s == want_s
