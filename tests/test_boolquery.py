"""Boolean / phrase query operators (operators/boolquery.py).

Semantics pinned against tiny hand-computable corpora; the sf0.01-scale
behavior is oracle-gated in test_entry_contract (phrase_topk / bool_topk /
facet_counts)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.operators.boolquery import (
    _phrase_hits,
    boolean_topk,
    facet_counts,
    phrase_topk,
)
from dawnsearch_spark.operators.tf import (
    document_frequencies,
    term_frequencies,
)
from conftest import corpus_stats_of

CFG = EngineConfig()


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        (0, "alpha beta gamma alpha beta", "en", "s0"),
        (1, "beta alpha beta gamma", "en", "s1"),
        (2, "alpha gamma beta delta", "fr", "s0"),
        (3, "delta delta alpha beta alpha beta", "fr", "s1"),
        (4, "gamma delta epsilon", "en", "s0"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, content string, lang string, source string"
    ).cache()
    df.count()
    return df


def test_phrase_hits_vectorized():
    t = np.asarray("a b a b a".split(), dtype=object)
    assert _phrase_hits(t, ["a", "b"]) == 2
    assert _phrase_hits(t, ["b", "a"]) == 2
    assert _phrase_hits(t, ["a", "b", "a"]) == 2  # overlapping occurrences count
    assert _phrase_hits(t, ["a", "a"]) == 0
    assert _phrase_hits(t, list("ababab")) == 0  # longer than doc
    assert _phrase_hits(np.asarray([], dtype=object), ["a"]) == 0


def test_flat_matchers_equal_per_doc():
    """The batched flat matchers must agree with the per-doc reference
    matchers on random multi-doc batches — including doc-boundary windows,
    empty docs, and docs shorter than the phrase."""
    import random

    from dawnsearch_spark.operators.boolquery import (
        _flatten_tokens,
        _near_hits,
        _near_hits_flat,
        _phrase_hits_flat,
    )
    import pandas as pd

    rng = random.Random(7)
    vocab = list("abcde")
    docs = [
        [rng.choice(vocab) for _ in range(rng.randrange(0, 12))]
        for _ in range(60)
    ]
    toks = pd.Series(docs)
    flat, seg, dl = _flatten_tokens(toks)
    assert len(flat) == int(dl.sum())
    for terms in (["a", "b"], ["b", "a", "c"], ["a"], ["e", "e"]):
        got = _phrase_hits_flat(flat, seg, len(docs), terms)
        want = [
            _phrase_hits(np.asarray(d, dtype=object), terms) for d in docs
        ]
        assert got.tolist() == want, terms
    for ta, tb, w in (("a", "b", 1), ("a", "b", 3), ("c", "e", 2), ("a", "a", 2)):
        got = _near_hits_flat(flat, seg, len(docs), ta, tb, w)
        want = [
            _near_hits(np.asarray(d, dtype=object), ta, tb, w) for d in docs
        ]
        assert got.tolist() == want, (ta, tb, w)


def test_phrase_topk_semantics(spark, tiny):
    tf = term_frequencies(tiny)
    stats = corpus_stats_of(tiny)
    out = phrase_topk(tiny, tf, stats, "alpha beta", CFG).collect()
    got = {r.doc_id: r.phrase_tf for r in out}
    # docs 0 (x2), 1 (x1), 3 (x2) contain "alpha beta" adjacently; doc 2
    # has both terms but never adjacent -> pruned by verification
    assert got == {0: 2, 1: 1, 3: 2}
    # scores: BM25 with df=3, tf=phrase occurrences; identical tf + dl
    # ordering means doc 0 (dl 5) outranks doc 3 (dl 6)
    order = [r.doc_id for r in out]
    assert order.index(0) < order.index(3)
    n, avgdl = stats.n_docs, stats.avgdl
    idf = math.log((n - 3 + 0.5) / (3 + 0.5) + 1.0)
    for r in out:
        dl = {0: 5, 1: 4, 3: 6}[r.doc_id]
        want = idf * r.phrase_tf * (CFG.k1 + 1) / (
            r.phrase_tf + CFG.k1 * (1 - CFG.b + CFG.b * dl / avgdl)
        )
        assert abs(r.score - want) < 1e-12


def test_phrase_empty_and_absent(spark, tiny):
    tf = term_frequencies(tiny)
    stats = corpus_stats_of(tiny)
    assert phrase_topk(tiny, tf, stats, "", CFG).count() == 0
    assert phrase_topk(tiny, tf, stats, "nosuch term", CFG).count() == 0
    # all terms present somewhere but never adjacent in any doc
    assert phrase_topk(tiny, tf, stats, "epsilon alpha", CFG).count() == 0


def test_boolean_topk_semantics(spark, tiny):
    tf = term_frequencies(tiny)
    stats = corpus_stats_of(tiny)
    dfs = document_frequencies(tf)
    # must delta -> docs 2,3,4; must_not epsilon removes 4
    out = boolean_topk(
        tf, dfs, stats, CFG, must=["delta"], should=["alpha"], must_not=["epsilon"]
    ).collect()
    assert {r.doc_id for r in out} == {2, 3}
    # empty must -> pure should (OR) query over all docs containing alpha
    out2 = boolean_topk(tf, dfs, stats, CFG, should=["alpha"]).collect()
    assert {r.doc_id for r in out2} == {0, 1, 2, 3}
    # conjunction of two musts
    out3 = boolean_topk(tf, dfs, stats, CFG, must=["alpha", "gamma"]).collect()
    assert {r.doc_id for r in out3} == {0, 1, 2}
    # no scoring terms -> empty frame, stable schema
    empty = boolean_topk(tf, dfs, stats, CFG, must_not=["alpha"])
    assert empty.count() == 0 and empty.columns == ["doc_id", "score"]


def test_boolean_matches_exact_oracle_on_or(spark, tiny):
    """Pure-should boolean == the exact BM25 scorer (same fold order)."""
    from dawnsearch_spark.operators.oracle import bm25_exact_topk

    tf = term_frequencies(tiny)
    stats = corpus_stats_of(tiny)
    dfs = document_frequencies(tf)
    a = boolean_topk(tf, dfs, stats, CFG, should=["alpha", "gamma"]).collect()
    b = bm25_exact_topk(tf, dfs, stats, "alpha gamma", CFG).collect()
    assert [(r.doc_id, r.score) for r in a] == [(r.doc_id, r.score) for r in b]


def test_prefix_topk(spark, tiny):
    from dawnsearch_spark.operators.boolquery import prefix_topk
    from dawnsearch_spark.operators.oracle import bm25_exact_topk

    tf = term_frequencies(tiny)
    stats = corpus_stats_of(tiny)
    dfs = document_frequencies(tf)
    # "a" expands to exactly {alpha}: must equal the single-term exact scorer
    a = prefix_topk(tf, dfs, stats, "a", CFG).collect()
    b = bm25_exact_topk(tf, dfs, stats, "alpha", CFG).collect()
    assert [(r.doc_id, r.score) for r in a] == [(r.doc_id, r.score) for r in b]
    # cap=1 on a multi-term expansion keeps only the highest-df term
    # (beta df=4 > gamma df=3 ... both start differently; use two-term
    # prefix family: terms starting with "" is invalid, so check "d"/"e")
    assert {r.doc_id for r in prefix_topk(tf, dfs, stats, "e", CFG).collect()} == {4}
    # no match / invalid prefixes -> empty with stable schema
    assert prefix_topk(tf, dfs, stats, "zz", CFG).count() == 0
    assert prefix_topk(tf, dfs, stats, "", CFG).count() == 0
    assert prefix_topk(tf, dfs, stats, "a b", CFG).count() == 0


def test_near_topk(spark, tiny):
    from dawnsearch_spark.operators.boolquery import near_topk

    tf = term_frequencies(tiny)
    stats = corpus_stats_of(tiny)
    # alpha/gamma positions: doc0 a=[0,3] g=[2]; doc1 a=[1] g=[3];
    # doc2 a=[0] g=[1]; doc3 no gamma; doc4 no alpha
    w1 = {r.doc_id: r.prox_tf for r in near_topk(
        tiny, tf, stats, "alpha", "gamma", 1, CFG).collect()}
    assert w1 == {0: 1, 2: 1}
    w2 = {r.doc_id: r.prox_tf for r in near_topk(
        tiny, tf, stats, "alpha", "gamma", 2, CFG).collect()}
    assert w2 == {0: 2, 1: 1, 2: 1}
    # window large enough -> prox_tf == full term_a tf in co-occurring docs
    w9 = {r.doc_id: r.prox_tf for r in near_topk(
        tiny, tf, stats, "alpha", "gamma", 9, CFG).collect()}
    assert w9 == {0: 2, 1: 1, 2: 1}
    assert near_topk(tiny, tf, stats, "alpha", "nosuch", 3, CFG).count() == 0


def test_fuzzy_topk(spark, tiny):
    from dawnsearch_spark.operators.boolquery import boolean_topk, fuzzy_topk

    tf = term_frequencies(tiny)
    stats = corpus_stats_of(tiny)
    dfs = document_frequencies(tf)
    # "deta" is 1 edit from BOTH beta and delta -> OR over the pair
    a = fuzzy_topk(tf, dfs, stats, "deta", CFG).collect()
    b = boolean_topk(tf, dfs, stats, CFG, should=["beta", "delta"]).collect()
    assert [(r.doc_id, r.score) for r in a] == [(r.doc_id, r.score) for r in b]
    # exact term included at distance 0
    e = fuzzy_topk(tf, dfs, stats, "epsilon", CFG).collect()
    assert {r.doc_id for r in e} == {4}
    # nothing within 1 edit -> empty
    assert fuzzy_topk(tf, dfs, stats, "zzzzzzzz", CFG).count() == 0
    # expansion cap keeps the closest term first (distance 0 beats 1)
    capped = fuzzy_topk(tf, dfs, stats, "beta", CFG, max_expansion=1).collect()
    only_beta = boolean_topk(tf, dfs, stats, CFG, should=["beta"]).collect()
    assert [(r.doc_id, r.score) for r in capped] == [
        (r.doc_id, r.score) for r in only_beta
    ]


def test_facet_counts(spark, tiny):
    tf = term_frequencies(tiny)
    out = facet_counts(tiny, tf, "delta epsilon", ["lang", "source"]).collect()
    got = {(r.facet, r.value): r.n_docs for r in out}
    # match set: docs 2,3,4 (delta) | 4 (epsilon) -> {2,3,4}
    assert got == {
        ("lang", "fr"): 2,
        ("lang", "en"): 1,
        ("source", "s0"): 2,
        ("source", "s1"): 1,
    }


def test_regex_and_wildcard_rewrites(spark, tiny):
    from dawnsearch_spark.operators.boolquery import (
        regex_topk,
        wildcard_to_regex,
        wildcard_topk,
    )

    tf = term_frequencies(tiny)
    stats = corpus_stats_of(tiny)
    dfs = document_frequencies(tf)
    # full-match: "delta|beta" expands to exactly those two terms
    a = regex_topk(tf, dfs, stats, "delta|beta", CFG).collect()
    b = boolean_topk(tf, dfs, stats, CFG, should=["beta", "delta"]).collect()
    assert [(r.doc_id, r.score) for r in a] == [(r.doc_id, r.score) for r in b]
    # anchoring: "et" must NOT match "beta" (whole-term semantics)
    assert regex_topk(tf, dfs, stats, "et", CFG).count() == 0
    # wildcard translation
    assert wildcard_to_regex("te?m*") == "te.m.*"
    assert wildcard_to_regex("a.b") == "a\\.b"
    # "?elta" -> delta only
    w = wildcard_topk(tf, dfs, stats, "?elta", CFG).collect()
    d = boolean_topk(tf, dfs, stats, CFG, should=["delta"]).collect()
    assert [(r.doc_id, r.score) for r in w] == [(r.doc_id, r.score) for r in d]
    # no dictionary match -> empty
    assert regex_topk(tf, dfs, stats, "zz+", CFG).count() == 0


def test_float_boosts_scale_scores(spark, tiny):
    from dawnsearch_spark.operators.oracle import bm25_exact_topk

    tf = term_frequencies(tiny)
    stats = corpus_stats_of(tiny)
    dfs = document_frequencies(tf)
    base = {r.doc_id: r.score
            for r in bm25_exact_topk(tf, dfs, stats, "delta", CFG).collect()}
    boosted = {r.doc_id: r.score
               for r in bm25_exact_topk(tf, dfs, stats, {"delta": 2.5}, CFG).collect()}
    assert set(base) == set(boosted)
    for d, s in base.items():
        assert abs(boosted[d] - 2.5 * s) < 1e-9
