"""Exact BM25 oracle vs a from-first-principles pure-Python scorer
(SURVEY.md §5: BM25 kernel vs hand-computed values)."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.functions.tokenizer import tokenize_py
from dawnsearch_spark.operators.hydrate import verify_corpus
from dawnsearch_spark.operators.oracle import bm25_exact_topk
from dawnsearch_spark.operators.tf import (
    document_frequencies,
    term_frequencies,
)
from conftest import corpus_stats_of, hydrate_topk

DOCS = [
    "def load_config(path): return parse(path)",
    "class HTTPServer: def start(self): pass",
    "import json\nimport os\nload = json.load",
    "fn main() { let config = load_config(); }",
    "public static void main(String[] args) {}",
]


def pure_python_bm25(query: str, cfg: EngineConfig, k: int = 10):
    toks = [tokenize_py(d) for d in DOCS]
    n = len(DOCS)
    avgdl = sum(len(t) for t in toks) / n
    qterms = Counter(tokenize_py(query))
    scores = {}
    for i, t in enumerate(toks):
        tf = Counter(t)
        s = 0.0
        for term in sorted(qterms):  # ascending-term fold, like the engine
            if term not in tf:
                continue
            df = sum(1 for tt in toks if term in tt)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            f = tf[term]
            s += qterms[term] * idf * (f * (cfg.k1 + 1)) / (
                f + cfg.k1 * (1 - cfg.b + cfg.b * len(t) / avgdl)
            )
        if s > 0:
            scores[i] = s
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@pytest.fixture(scope="module")
def tiny(spark):
    docs = spark.createDataFrame(
        [(f"org/r{i}", f"f{i}.py", "c" * 40, "python", d, i) for i, d in enumerate(DOCS)],
        "repo string, path string, commit string, lang string, content string, doc_id long",
    )
    tf = term_frequencies(docs).cache()
    stats = corpus_stats_of(docs)
    dfs = document_frequencies(tf).cache()
    return docs, tf, stats, dfs


@pytest.mark.parametrize(
    "query",
    ["load_config", "def main", "import json", "HTTPServer start", "absent_term", "config load def"],
)
def test_oracle_matches_pure_python(spark, tiny, query):
    docs, tf, stats, dfs = tiny
    cfg = EngineConfig()
    got = [(r["doc_id"], r["score"]) for r in bm25_exact_topk(tf, dfs, stats, query, cfg).collect()]
    want = pure_python_bm25(query, cfg)
    assert [g[0] for g in got] == [w[0] for w in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12)


def test_hydrate_and_verify(spark, small_corpus, cfg):
    tf = term_frequencies(small_corpus)
    stats = corpus_stats_of(small_corpus)
    dfs = document_frequencies(tf)
    topk = bm25_exact_topk(tf, dfs, stats, "def import", cfg)
    res = hydrate_topk(topk, small_corpus, cfg).collect()
    assert 0 < len(res) <= cfg.top_k
    assert all(r["sha_ok"] for r in res)
    assert all(len(r["snippet"]) <= cfg.snippet_len for r in res)
    v = verify_corpus(small_corpus, cfg)
    assert v["sha_mismatch"] == 0 and v["null_content"] == 0 and v["rows"] == 400
