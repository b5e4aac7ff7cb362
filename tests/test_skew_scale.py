"""Scale-parameterized skew handling: ratio-based heavy threshold, the
broadcast-size guard with join-based salting fallback, and fresh-build
identity-key dedup (VERDICT r1 items 5/8/10)."""

from __future__ import annotations

import math
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.index_build import build_index
from dawnsearch_spark.operators.oracle import bm25_exact_topk
from dawnsearch_spark.operators.tf import (
    corpus_stats,
    doc_lengths,
    document_frequencies,
    term_frequencies,
)
from dawnsearch_spark.plans.query import Engine

QUERIES = ["def import", "parse http request", "getValue config"]


def test_effective_threshold_scaling():
    cfg = EngineConfig()  # ratio mode
    assert cfg.effective_heavy_df_threshold(10_000) == cfg.heavy_df_min
    assert cfg.effective_heavy_df_threshold(1_000_000) == 10_000
    # clamped: no unsalted list can exceed heavy_df_max postings
    assert cfg.effective_heavy_df_threshold(10**12) == cfg.heavy_df_max
    assert EngineConfig(heavy_df_threshold=7).effective_heavy_df_threshold(10**9) == 7


def _oracle(spark, corpus):
    tf = term_frequencies(corpus)
    stats = corpus_stats(doc_lengths(corpus))
    dfs = document_frequencies(tf)
    return tf, stats, dfs


def _assert_rank_identical(engine, oracle_inputs, cfg):
    tf, stats, dfs = oracle_inputs
    for query in QUERIES:
        want = [
            (r["doc_id"], r["score"])
            for r in bm25_exact_topk(tf, dfs, stats, query, cfg).collect()
        ]
        got = engine.search(query)
        assert [g[0] for g in got] == [w[0] for w in want], query
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9)


def test_join_salting_fallback_rank_identical(spark, small_corpus, cfg, tmp_path):
    """max_broadcast_heavy_terms=0 forces the fully-distributed with_salt
    join path; the index must answer rank-identically to the oracle."""
    jcfg = replace(cfg, max_broadcast_heavy_terms=0)
    d = str(tmp_path / "joinpath")
    counters = build_index(spark, small_corpus, d, jcfg, n_groups=2)
    assert counters["n_docs"] == 400
    seg = spark.read.parquet(d + "/segments")
    assert seg.filter(F.col("range_id") >= 0).count() > 0  # salted rows exist
    _assert_rank_identical(Engine(spark, d, jcfg), _oracle(spark, small_corpus), jcfg)


def test_mass_heavy_terms_build(spark, small_corpus, cfg, tmp_path):
    """Threshold forcing (nearly) every term heavy — thousands of salted
    groups — still builds and stays rank-identical (VERDICT r1 item 8)."""
    hcfg = replace(cfg, heavy_df_threshold=1)
    d = str(tmp_path / "allheavy")
    build_index(spark, small_corpus, d, hcfg, n_groups=2)
    terms = spark.read.parquet(d + "/terms")
    n_heavy = terms.filter(F.col("heavy")).count()
    n_terms = terms.count()
    assert n_heavy > 500 and n_heavy > n_terms // 4, (
        f"expected mass-heavy dictionary, got {n_heavy}/{n_terms}"
    )
    # each heavy term chunks into multiple doc-ranges -> thousands of
    # salted run groups exercise the salt/merge machinery at volume
    seg = spark.read.parquet(d + "/segments")
    assert seg.filter(F.col("range_id") >= 0).count() > 2000
    _assert_rank_identical(Engine(spark, d, hcfg), _oracle(spark, small_corpus), hcfg)


def test_parallel_groups_identical_segments(spark, small_corpus, cfg, tmp_path):
    """Concurrent group submission produces byte-identical segments."""
    d1, d2 = str(tmp_path / "seq"), str(tmp_path / "par")
    build_index(spark, small_corpus, d1, cfg, n_groups=4, parallel_groups=1)
    build_index(spark, small_corpus, d2, cfg, n_groups=4, parallel_groups=4)
    cols = ["term", "range_id", "n_docs", "doc_blob", "tf_blob", "dl_blob"]
    s1 = spark.read.parquet(d1 + "/segments").select(cols)
    s2 = spark.read.parquet(d2 + "/segments").select(cols)
    assert s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0


def test_fresh_build_dedups_identity_key(spark, small_corpus, cfg, tmp_path):
    """A duplicated (repo, path, commit) in the initial corpus must not
    double-count (reference dedups on every insert,
    search_provider.rs:253-263): the index over corpus+planted-dups equals
    the index over the clean corpus."""
    src = small_corpus.drop("doc_id", "_pid") if "_pid" in small_corpus.columns else small_corpus.drop("doc_id")
    dup = src.limit(25)
    with_dups = src.unionByName(dup)
    d1, d2 = str(tmp_path / "clean"), str(tmp_path / "dups")
    build_index(spark, src, d1, cfg, n_groups=2)
    build_index(spark, with_dups, d2, cfg, n_groups=2)
    e1, e2 = Engine(spark, d1, cfg), Engine(spark, d2, cfg)
    assert e1.stats_.n_docs == e2.stats_.n_docs == 400
    for q in QUERIES:
        assert e1.search(q) == e2.search(q)


def test_heavy_to_light_threshold_drift_keeps_postings(
    spark, small_corpus, cfg, tmp_path
):
    """A term salted under an old (lower) threshold must keep serving after
    the effective threshold rises above its df (ratio thresholds move with
    n_docs): its salted runs merge with df from the full dictionary and new
    light runs are re-salted, never dropped or double-served."""
    d = str(tmp_path / "drift")
    # salts mid-frequency terms AT STAGE 2 (the drift scenario needs old
    # salted runs ON DISK, i.e. the large-corpus sampled-detection path —
    # small corpora now skip detection and salt only at merge, so force
    # the detection branch with a zero floor + full sample)
    low = replace(
        cfg, heavy_df_threshold=8, heavy_sample_min_docs=0, heavy_sample_fraction=1.0
    )
    build_index(spark, small_corpus, d, low, n_groups=2)
    # simulate the effective threshold drifting up to 200 (ratio thresholds
    # rise with n_docs): old salted runs remain on disk while the current
    # dictionary flags far fewer terms heavy. Verify the stage-3 merge
    # semantics at the operator level.
    from dawnsearch_spark.operators.merge import merge_runs_segments
    from dawnsearch_spark.operators.postings import reclassify_runs

    # recompute dictionary under the HIGH threshold
    from dawnsearch_spark.operators.tf import document_frequencies_fast

    docs = spark.read.parquet(d + "/documents")
    dfs = document_frequencies_fast(docs, "content").withColumn(
        "heavy", F.col("df") > F.lit(200)
    )
    runs_raw = spark.read.parquet(d + "/runs")
    salted_before = runs_raw.filter(F.col("salt") >= 0)
    n_salted_terms = salted_before.select("term").distinct().count()
    assert n_salted_terms > 0
    heavy_now = dfs.filter(F.col("heavy"))
    split_terms = (
        heavy_now.select("term")
        .union(salted_before.select("term"))
        .distinct()
    )
    runs = reclassify_runs(runs_raw, split_terms, low)
    salted = runs.filter(F.col("salt") >= 0)
    heavy_rows = merge_runs_segments(salted, low, 8)
    light_rows = merge_runs_segments(runs.filter(F.col("salt") == -1), low, 8)
    # no salted term lost its postings, and no term serves from both layouts
    salted_terms_out = {r["term"] for r in heavy_rows.select("term").distinct().collect()}
    light_terms_out = {r["term"] for r in light_rows.select("term").distinct().collect()}
    assert len(salted_terms_out) == n_salted_terms
    assert not (salted_terms_out & light_terms_out)
    # posting mass preserved across the whole merge
    total_in = runs_raw.agg(F.sum("n_docs")).collect()[0][0]
    total_out = heavy_rows.agg(F.sum("n_docs")).collect()[0][0] + (
        light_rows.agg(F.sum("n_docs")).collect()[0][0] or 0
    )
    assert total_in == total_out
