"""Driver-postings budget, overflow routing into the block-max walk, θ0
and observability counters of the WAND executor (VERDICT r2 items
1/3/4/6).

The invariant under test: no matter how small ``max_driver_postings`` is,
results stay rank-identical to the exact oracle (overflow light lists are
walked block span by block span, never decoded whole on the driver), and
the counters faithfully report what the engine did. Reference analogs:
the bounded top-k accumulator (best_results.rs:28-65) and the per-search
servers_contacted/pages_searched counters (search_provider.rs:44-59).
"""

from __future__ import annotations

import math
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from dawnsearch_spark.corpus import REFERENCE_QUERIES
from dawnsearch_spark.index_build import build_index
from dawnsearch_spark.operators.oracle import bm25_exact_topk
from dawnsearch_spark.operators.tf import (
    document_frequencies,
    term_frequencies,
)
from dawnsearch_spark.operators.wand import new_counters, search_index
from dawnsearch_spark.plans.query import Engine
from conftest import corpus_stats_of

MULTI_TERM_QUERIES = [2, 3, 12, 18, 21, 24]  # heavier, multi-list queries


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, spark, small_corpus, cfg):
    d = str(tmp_path_factory.mktemp("budget_index"))
    build_index(spark, small_corpus, d, cfg, n_groups=4)
    return d


@pytest.fixture(scope="module")
def oracle_inputs(spark, small_corpus):
    tf = term_frequencies(small_corpus).cache()
    stats = corpus_stats_of(small_corpus)
    dfs = document_frequencies(tf).cache()
    tf.count()
    return tf, stats, dfs


def _oracle(oracle_inputs, cfg, query):
    tf, stats, dfs = oracle_inputs
    return [
        (r["doc_id"], r["score"])
        for r in bm25_exact_topk(tf, dfs, stats, query, cfg).collect()
    ]


def _assert_rank_identical(got, want, query):
    assert [g[0] for g in got] == [w[0] for w in want], f"docIDs differ for {query!r}"
    for (gd, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9), f"score differs for doc {gd}"


@pytest.mark.parametrize("qid", MULTI_TERM_QUERIES)
def test_tiny_budget_overflow_rank_identical(spark, index_dir, oracle_inputs, cfg, qid):
    """A budget far below the lists' sizes sends the lists to the walk;
    results must not change and the driver must respect the budget."""
    query = REFERENCE_QUERIES[qid]
    tight = replace(cfg, max_driver_postings=16)
    ctr = new_counters()
    got = search_index(index_dir, query, tight, counters=ctr)
    _assert_rank_identical(got, _oracle(oracle_inputs, cfg, query), query)
    assert ctr["path"] == "block_max"
    # the budget bounds every whole-list decode on the driver
    assert ctr["driver_postings_decoded"] <= 16


def test_light_lists_overflow_to_walk(spark, index_dir, oracle_inputs, cfg):
    """Build a query from terms the dictionary says are LIGHT with df above
    the budget: every one of them must overflow into the block-max walk,
    none decoded whole on the driver — the VERDICT r2 scale choke."""
    terms_dict = spark.read.parquet(index_dir + "/terms")
    light_terms = [
        r["term"]
        for r in terms_dict.filter(
            (~F.col("heavy")) & (F.col("df") > 8) & (F.col("df") <= 32)
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(3)
        .collect()
    ]
    assert len(light_terms) == 3, "corpus must have mid-df light terms"
    query = {t: 1 for t in light_terms}
    tight = replace(cfg, max_driver_postings=8)
    ctr = new_counters()
    got = search_index(index_dir, query, tight, counters=ctr)
    assert ctr["path"] == "block_max"
    assert ctr["light_terms_overflow"] == 3, ctr
    assert ctr["light_terms_driver"] == 0
    assert ctr["driver_postings_decoded"] <= 8
    # identical to the unconstrained engine answer
    want = search_index(index_dir, query, cfg)
    assert [(d, round(s, 9)) for d, s in got] == [(d, round(s, 9)) for d, s in want]


@pytest.mark.parametrize("qid", [3, 21])
def test_zero_budget_everything_distributed(spark, index_dir, oracle_inputs, cfg, qid):
    query = REFERENCE_QUERIES[qid]
    zero = replace(cfg, max_driver_postings=0)
    ctr = new_counters()
    got = search_index(index_dir, query, zero, counters=ctr)
    _assert_rank_identical(got, _oracle(oracle_inputs, cfg, query), query)
    assert ctr["driver_postings_decoded"] == 0
    assert ctr["light_terms_driver"] == 0


def test_fast_path_within_budget_and_counters(spark, index_dir, cfg):
    """Default budget: the driver fast path serves the query, counters
    report the work done (nonzero where work happened)."""
    engine = Engine(spark, index_dir, cfg)
    got = engine.search(REFERENCE_QUERIES[3])
    ctr = engine.last_search_counters
    assert got and ctr["path"] == "driver"
    assert ctr["terms"] == 3
    assert ctr["driver_postings_decoded"] > 0
    assert ctr["driver_postings_decoded"] <= cfg.max_driver_postings
    assert ctr["postings_scored"] >= 0
    assert "last_search" in engine.stats()


def test_block_max_pruning_saves_decodes(spark, index_dir, cfg, block_max_cfg):
    """Block-max walk seeded with θ0: across the multi-term queries the
    walk must decode strictly fewer blocks than a full decode of every
    matching heavy row would (the whole point of block-max WAND + the
    seeded θ)."""
    seg = spark.read.parquet(index_dir + "/segments")
    saved_somewhere = False
    for qid in MULTI_TERM_QUERIES:
        query = REFERENCE_QUERIES[qid]
        terms = query.split()
        total_blocks = (
            seg.filter(F.col("term").isin(terms) & (F.col("range_id") >= 0))
            .select(F.sum(F.size("block_last")).alias("nb"))
            .collect()[0]["nb"]
            or 0
        )
        ctr = new_counters()
        search_index(
            index_dir, query, block_max_cfg(cfg, index_dir, query), counters=ctr,
        )
        assert ctr["path"] == "block_max"
        assert ctr["blocks_decoded"] <= total_blocks
        if ctr["blocks_decoded"] < total_blocks or ctr["ranges_pruned"] > 0:
            saved_somewhere = True
    assert saved_somewhere, "pruning never skipped a block or range"


def test_walk_prunes_under_starved_budget(spark, index_dir, oracle_inputs, cfg):
    """When every range's postings exceed the driver budget (the shape of
    a 100x index), the walk must still prune: visiting ranges in
    descending upper-bound order raises θ from the first ranges on
    (VERDICT r4 #3: ranges_pruned was 0 two rounds running). Results stay
    rank-identical to the oracle; a discriminative rare+stopword query
    must record actual range pruning."""
    terms_dict = spark.read.parquet(index_dir + "/terms")
    # rare terms with at least k=5 matching docs so the seeded θ lands on
    # a HIGH (rare-idf) score, tight enough to prune heavy-only ranges
    rare = [
        r["term"]
        for r in terms_dict.filter(
            (~F.col("heavy")) & (F.col("df") >= 8) & (F.col("df") <= 16)
        )
        .orderBy("term")
        .limit(2)
        .collect()
    ]
    heavy2 = [
        r["term"]
        for r in terms_dict.orderBy(F.desc("df"), F.asc("term")).limit(2).collect()
    ]
    assert len(rare) == 2 and len(heavy2) == 2
    pruned_somewhere = False
    for t in rare:
        query = {t: 1, heavy2[0]: 1, heavy2[1]: 1}
        tight = replace(cfg, max_driver_postings=16, top_k_internal=5)
        ctr = new_counters()
        got = search_index(index_dir, query, tight, k=5, counters=ctr)
        assert ctr["path"] == "block_max"
        want = search_index(index_dir, query, cfg)
        assert [(d, round(s, 9)) for d, s in got] == [
            (d, round(s, 9)) for d, s in want[:5]
        ], t
        if ctr["ranges_pruned"] > 0:
            pruned_somewhere = True
    assert pruned_somewhere, "the walk's θ never pruned a range"


def test_theta_seed_recorded(spark, index_dir, cfg, block_max_cfg):
    """The walk's θ0 must be captured and nonzero for a query whose light
    lists alone fill the top-k (θ0 = kth best light score): a light term
    with at least top_k_internal docs plus the heaviest term."""
    terms_dict = spark.read.parquet(index_dir + "/terms")
    light = (
        terms_dict.filter((~F.col("heavy")) & (F.col("df") >= cfg.top_k_internal))
        .orderBy("df", "term")
        .first()
    )
    heavy = terms_dict.orderBy(F.desc("df"), F.asc("term")).first()
    query = {light["term"]: 1, heavy["term"]: 1}
    ctr = new_counters()
    search_index(
        index_dir, query, block_max_cfg(cfg, index_dir, query), counters=ctr,
    )
    assert ctr["path"] == "block_max"
    assert ctr["theta_seed"] > 0.0


def test_budget_alone_selects_path(spark, index_dir, oracle_inputs, cfg, block_max_cfg):
    """The query's total postings (Σ df over its terms) against
    max_driver_postings alone pick the path, for a heavy + light and a
    light-only query: at Σ df the driver scores every list whole, one
    posting less sends the query to the block-max walk, and both answers
    equal each other and the oracle."""
    terms_dict = spark.read.parquet(index_dir + "/terms")
    light = [
        r["term"]
        for r in terms_dict.filter(
            (~F.col("heavy")) & (F.col("df") >= 4) & (F.col("df") <= 20)
        )
        .orderBy("term")
        .limit(2)
        .collect()
    ]
    heavy = [
        r["term"]
        for r in terms_dict.filter(F.col("heavy"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(1)
        .collect()
    ]
    assert len(light) == 2 and len(heavy) == 1
    for query in (f"{light[0]} {heavy[0]}", f"{light[0]} {light[1]}"):
        sigma = block_max_cfg(cfg, index_dir, query).max_driver_postings + 1
        got = {}
        for budget, path in ((sigma, "driver"), (sigma - 1, "block_max")):
            ctr = new_counters()
            got[path] = search_index(
                index_dir, query, replace(cfg, max_driver_postings=budget),
                counters=ctr,
            )
            assert ctr["path"] == path, (query, ctr)
            if path == "driver":
                assert ctr["postings_scored"] == sigma, ctr
        assert got["driver"] == got["block_max"], query
        _assert_rank_identical(got["driver"], _oracle(oracle_inputs, cfg, query), query)
