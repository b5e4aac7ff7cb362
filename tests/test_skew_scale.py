"""Scale-parameterized skew handling: ratio-based heavy threshold,
mass-heavy dictionaries, threshold drift across appends, and fresh-build
identity-key dedup (VERDICT r1 items 5/8/10)."""

from __future__ import annotations

import math
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

import dawnsearch_spark.index_build as ib
from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.corpus import generate_corpus, with_content_sha
from dawnsearch_spark.index_build import (
    IndexPaths,
    build_index,
    read_segments,
    segment_generations,
)
from dawnsearch_spark.manifest import read_manifest
from dawnsearch_spark.operators.oracle import bm25_exact_topk
from dawnsearch_spark.operators.tf import (
    document_frequencies,
    term_frequencies,
)
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.streaming.incremental import append_documents
from conftest import corpus_stats_of

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
    stats = corpus_stats_of(corpus)
    dfs = document_frequencies(tf)
    return tf, stats, dfs


def _assert_rank_identical(engine, oracle_inputs, cfg, queries=QUERIES):
    tf, stats, dfs = oracle_inputs
    for query in queries:
        want = [
            (r["doc_id"], r["score"])
            for r in bm25_exact_topk(tf, dfs, stats, query, cfg).collect()
        ]
        got = engine.search(query)
        assert [g[0] for g in got] == [w[0] for w in want], query
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9)


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


def _rot13(df):
    """Same Zipf shape, (almost) disjoint vocabulary: appended docs leave
    every original term's df where it was while n_docs grows."""
    lo = "abcdefghijklmnopqrstuvwxyz"
    up = lo.upper()
    return df.withColumn(
        "content",
        F.translate("content", lo + up, lo[13:] + lo[:13] + up[13:] + up[:13]),
    )


def test_heavy_to_light_threshold_drift_keeps_postings(spark, cfg, tmp_path, monkeypatch):
    """A ratio threshold rises with n_docs, so a term range-split in gen 0
    can be light under the dictionary by the time a compaction re-merges
    gen 0's segment rows. The dictionary alone decides the layout: in the
    compacted generation a term is range-split iff it is heavy now, so
    each drifted term is one light row there. Under both placements no
    posting is lost, no term serves both layouts within a generation, and
    answers stay rank-identical to the oracle."""
    drift = replace(
        cfg, heavy_df_threshold=None, heavy_df_ratio=0.05, heavy_df_min=2,
        max_segment_generations=2,
    )
    base = with_content_sha(generate_corpus(spark, 200, seed=7, vocab_size=1500))
    appends = [
        with_content_sha(
            _rot13(generate_corpus(spark, 300, seed=7 + i, vocab_size=1500, start=start))
        )
        for i, start in ((1, 200), (2, 500))
    ]
    oracle, rows_by = None, {}
    for budget in (ib.DRIVER_MERGE_MAX_POSTINGS, 0):
        root = str(tmp_path / f"b{budget}")
        monkeypatch.setattr(ib, "DRIVER_MERGE_MAX_POSTINGS", budget)
        build_index(spark, base, root, drift, n_groups=1)
        gen0_split = {
            r["term"]
            for r in read_segments(spark, root)
            .filter(F.col("range_id") >= 0).select("term").distinct().collect()
        }
        for a in appends:
            append_documents(spark, root, a, drift, n_groups=1)
        monkeypatch.undo()

        (comp,) = [g for g in segment_generations(root) if 0 in g["groups"]]
        assert len(comp["groups"]) > 1, "gen 0 was never compacted"
        heavy_now = {
            r["term"]
            for r in spark.read.parquet(IndexPaths(root).terms)
            .filter(F.col("heavy")).select("term").collect()
        }
        drifted = gen0_split - heavy_now
        assert drifted, "no gen-0 range-split term fell under the threshold"

        seg = read_segments(spark, root).select("gen", "term", "range_id", "n_docs")
        pdf = seg.toPandas()
        rows_by[budget] = sorted(map(tuple, pdf.to_numpy().tolist()))
        # posting mass preserved: every posting served exactly once
        assert int(pdf["n_docs"].sum()) == read_manifest(root, "stats")["n_postings"]
        # within a generation a term is light or range-split, never both
        layouts = pdf.assign(split=pdf["range_id"] >= 0).groupby(["gen", "term"])["split"]
        assert (layouts.nunique() == 1).all()
        # the compacted generation: range-split iff heavy under the dictionary
        mine = pdf[pdf["gen"] == comp["gen"]]
        assert ((mine["range_id"] >= 0) == mine["term"].isin(heavy_now)).all()
        assert (mine[mine["term"].isin(drifted)]["range_id"] == -1).all()

        if oracle is None:
            oracle = _oracle(spark, spark.read.parquet(IndexPaths(root).documents))
        _assert_rank_identical(
            Engine(spark, root, drift), oracle, drift,
            QUERIES + [" ".join(sorted(drifted)[:3])],
        )
    assert rows_by[0] == rows_by[ib.DRIVER_MERGE_MAX_POSTINGS]