"""Unit contracts for best-window snippets and BM25F."""

from __future__ import annotations

from pyspark.sql import functions as F

from dawnsearch_spark.operators.bm25f import bm25f_topk
from dawnsearch_spark.operators.snippets import best_snippets


def _one(spark, text):
    return spark.createDataFrame([(0, text)], "doc_id long, text string")


def test_snippet_picks_densest_window(spark):
    txt = "x x x x alpha beta x x x x x x alpha beta gamma x x"
    out = best_snippets(_one(spark, txt), "alpha beta gamma", window=4).collect()[0]
    assert out["n_matched"] == 3
    assert "gamma" in out["snippet"] and "alpha" in out["snippet"]


def test_snippet_earliest_tie_break(spark):
    # two windows with the same distinct-term count: the earlier one wins
    txt = "alpha z z z z z z z z z z alpha z z"
    out = best_snippets(_one(spark, txt), "alpha", window=3).collect()[0]
    assert out["snippet"] == "alpha z z"
    assert out["n_matched"] == 1


def test_snippet_short_and_empty_docs(spark):
    rows = spark.createDataFrame(
        [(0, "alpha"), (1, ""), (2, "z y")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in best_snippets(rows, "alpha", window=8).collect()}
    assert got[0]["snippet"] == "alpha" and got[0]["n_matched"] == 1
    assert got[1]["snippet"] == "" and got[1]["n_matched"] == 0
    assert got[2]["n_matched"] == 0


def test_snippet_distinct_terms_not_occurrences(spark):
    # window with one term twice must lose to a window with two distinct terms
    txt = "alpha alpha z z z z z z z z alpha beta"
    out = best_snippets(_one(spark, txt), "alpha beta", window=2).collect()[0]
    assert out["snippet"] == "alpha beta"
    assert out["n_matched"] == 2


def test_bm25f_degenerates_to_bm25_with_single_field(spark, small_corpus, cfg):
    """One field, weight 1.0, b matching the engine config => BM25F must
    reproduce plain BM25 scores (the kernel-identity check)."""
    from dawnsearch_spark.functions.tokenizer import tokens_col
    from dawnsearch_spark.operators.oracle import bm25_exact_topk
    from dawnsearch_spark.operators.tf import (
        document_frequencies,
        term_frequencies,
    )
    from conftest import corpus_stats_of

    docs = small_corpus.select("doc_id", F.col("content").alias("text"))
    query = "spark index merge"
    fields = {"body": (tokens_col("text"), 1.0, cfg.b)}
    got = bm25f_topk(docs, query, fields=fields, k=10, k1=cfg.k1)

    src = small_corpus
    tf = term_frequencies(src)
    stats = corpus_stats_of(src)
    dfs = document_frequencies(tf)
    want = bm25_exact_topk(tf, dfs, stats, query, cfg, k=10)

    g = [(r["doc_id"], round(r["score"], 6)) for r in got.collect()]
    w = [(r["doc_id"], round(r["score"], 6)) for r in want.collect()]
    assert g == w


def test_bm25f_title_weight_changes_ranking(spark):
    """A term in the (up-weighted, shorter) title field must outrank the
    same term buried in a long body."""
    rows = spark.createDataFrame(
        [
            (0, "needle " + " ".join(f"w{i}" for i in range(40))),
            (1, " ".join(f"w{i}" for i in range(20)) + " needle "
             + " ".join(f"v{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    out = bm25f_topk(rows, "needle", k=2).collect()
    assert [r["doc_id"] for r in out] == [0, 1]
    assert out[0]["score"] > out[1]["score"]
