"""Index-served phrase search (operators/phrase_serve.py): the driver
zero-job path, the forced distributed path, tombstone masking, and
agreement with the batch operator (operators/boolquery.py)."""

from __future__ import annotations

from dataclasses import replace

import pytest

from dawnsearch_spark.index_build import build_index
from dawnsearch_spark.operators.boolquery import phrase_topk
from dawnsearch_spark.operators.phrase_serve import search_phrase_index
from dawnsearch_spark.operators.tf import (
    term_frequencies,
)
from dawnsearch_spark.plans.query import Engine
from conftest import corpus_stats_of


@pytest.fixture(scope="module")
def phrase_index(tmp_path_factory, spark, small_corpus, cfg):
    d = str(tmp_path_factory.mktemp("phrase_idx"))
    build_index(spark, small_corpus, d, cfg, n_groups=2)
    return d


@pytest.fixture(scope="module")
def a_phrase(small_corpus):
    """A 2-token phrase guaranteed present: the first two tokens of the
    longest document."""
    from dawnsearch_spark.functions.tokenizer import tokenize_py

    row = small_corpus.orderBy("doc_id").limit(1).collect()[0]
    toks = tokenize_py(row["content"])
    assert len(toks) >= 2
    return f"{toks[0]} {toks[1]}"


def _batch_result(spark, small_corpus, phrase, cfg, k=10):
    tf = term_frequencies(small_corpus)
    stats = corpus_stats_of(small_corpus)
    rows = phrase_topk(small_corpus, tf, stats, phrase, cfg, k=k).collect()
    return [(r.doc_id, r.phrase_tf, round(r.score, 9)) for r in rows]


def test_driver_path_matches_batch_operator(spark, small_corpus, phrase_index, cfg, a_phrase):
    ctr: dict = {}
    hits = search_phrase_index(
        spark, phrase_index, a_phrase, cfg, counters=ctr
    )
    assert ctr["path"] == "driver" and ctr["candidates"] > 0
    assert hits, "phrase taken from a real doc must match"
    got = [(d, p, round(s, 9)) for d, p, s in hits]
    assert got == _batch_result(spark, small_corpus, a_phrase, cfg)


def test_distributed_path_same_answer(spark, small_corpus, phrase_index, cfg, a_phrase):
    """Starve both driver budgets -> the Spark branch must return the
    identical ranking (scores equal to 9 dp)."""
    starved = replace(cfg, max_driver_postings=0, max_driver_phrase_docs=0)
    ctr: dict = {}
    hits = search_phrase_index(
        spark, phrase_index, a_phrase, starved, counters=ctr
    )
    assert ctr["path"] == "distributed"
    got = [(d, p, round(s, 9)) for d, p, s in hits]
    assert got == _batch_result(spark, small_corpus, a_phrase, cfg)


def test_absent_term_short_circuits(spark, phrase_index, cfg):
    ctr: dict = {}
    assert (
        search_phrase_index(
            spark, phrase_index, "zzzznope qqqqnada", cfg, counters=ctr
        )
        == []
    )
    assert ctr["path"] == "missing_term"


def test_engine_prefix_matches_batch(spark, small_corpus, phrase_index, cfg):
    """Index-served prefix query (term-dictionary expansion + WAND) must
    equal the batch PrefixQuery rewrite. Runs BEFORE the tombstone test —
    the fixture index must still be delete-free here."""
    from dawnsearch_spark.functions.tokenizer import tokenize_py
    from dawnsearch_spark.operators.boolquery import prefix_topk
    from dawnsearch_spark.operators.tf import document_frequencies

    row = small_corpus.orderBy("doc_id").limit(1).collect()[0]
    pre = tokenize_py(row["content"])[0][:2]
    e = Engine(spark, phrase_index, cfg)
    hits = e.search_prefix(pre)
    assert hits, "prefix taken from a real token must match"
    tf = term_frequencies(small_corpus)
    stats = corpus_stats_of(small_corpus)
    dfs = document_frequencies(tf)
    want = prefix_topk(tf, dfs, stats, pre, cfg).collect()
    assert [(d, round(s, 9)) for d, s in hits] == [
        (r.doc_id, round(r.score, 9)) for r in want
    ]
    # dictionary-absent fallback reads the terms relation: same answer
    e2 = Engine(
        spark, phrase_index,
        __import__("dataclasses").replace(cfg, max_driver_meta_rows=0),
    )
    assert e2.search_prefix(pre) == hits


def test_explain_matches_search_score(spark, small_corpus, phrase_index, cfg):
    """explain() totals must be bit-identical to the scores search()
    returns (same ascending-term fold), including duplicate query terms
    (qtf > 1), and missing terms must be reported."""
    from dawnsearch_spark.functions.tokenizer import tokenize_py

    e = Engine(spark, phrase_index, cfg)
    row = small_corpus.orderBy("doc_id").limit(1).collect()[0]
    t = tokenize_py(row["content"])[0]
    q = f"{t} {t} zzznope"  # qtf=2 + an absent term
    hits = e.search(q)
    assert hits
    for doc_id, score in hits[:3]:
        exp = e.explain(q, doc_id)
        assert exp["score"] == score, f"doc {doc_id}: {exp['score']} != {score}"
        assert [m["term"] for m in exp["matched"]] == sorted(set([t]))
        assert exp["matched"][0]["qtf"] == 2
        assert "zzznope" in exp["missing"]
    # a doc with no query term explains to zero
    all_ids = {d for d, _ in hits}
    other = next(
        i for i in range(400) if i not in all_ids
        and not e.explain(q, i)["matched"]
    )
    assert e.explain(q, other)["score"] == 0.0
    # a light term and a heavy term (df >= 32 under scaled_for_tests):
    # light and range rows take the same block-directory lookup
    from pyspark.sql import functions as F

    terms = spark.read.parquet(phrase_index + "/terms")
    light = terms.filter((~F.col("heavy")) & (F.col("df") >= 4)).orderBy("df", "term")
    heavy = terms.filter(F.col("heavy")).orderBy(F.desc("df"), "term")
    q = f"{light.first()['term']} {heavy.first()['term']}"
    hits = e.search(q)
    assert hits
    for doc_id, score in hits[:3]:
        exp = e.explain(q, doc_id)
        assert exp["score"] == score, f"doc {doc_id}: {exp['score']} != {score}"
    assert len(e.explain(q, hits[0][0])["matched"]) == 2, q


def test_served_near_matches_batch(spark, small_corpus, phrase_index, cfg, a_phrase):
    from dawnsearch_spark.operators.boolquery import near_topk
    from dawnsearch_spark.operators.phrase_serve import search_near_index

    ta, tb = a_phrase.split()
    hits = search_near_index(spark, phrase_index, ta, tb, 4, cfg)
    assert hits
    tf = term_frequencies(small_corpus)
    stats = corpus_stats_of(small_corpus)
    want = near_topk(small_corpus, tf, stats, ta, tb, 4, cfg).collect()
    assert [(d, p, round(s, 9)) for d, p, s in hits] == [
        (r.doc_id, r.prox_tf, round(r.score, 9)) for r in want
    ]


def test_count_matches(spark, small_corpus, phrase_index, cfg, a_phrase):
    from dataclasses import replace

    from dawnsearch_spark.functions.tokenizer import tokenize_py
    from dawnsearch_spark.operators.phrase_serve import count_matches_index

    ta, tb = a_phrase.split()
    q = f"{ta} {tb}"
    toks = small_corpus.selectExpr("doc_id", "content").collect()
    py = {r["doc_id"]: set(tokenize_py(r["content"])) for r in toks}
    want_or = sum(1 for s in py.values() if ta in s or tb in s)
    want_and = sum(1 for s in py.values() if ta in s and tb in s)
    ctr: dict = {}
    assert count_matches_index(spark, phrase_index, q, cfg, "or", counters=ctr) == want_or
    assert ctr["path"] == "driver"
    assert count_matches_index(spark, phrase_index, q, cfg, "and") == want_and
    # distributed path agrees
    starved = replace(cfg, max_driver_postings=0)
    ctr2: dict = {}
    assert (
        count_matches_index(spark, phrase_index, q, starved, "or", counters=ctr2)
        == want_or
    )
    assert ctr2["path"] == "distributed"
    assert count_matches_index(spark, phrase_index, q, starved, "and") == want_and
    # absent term: OR unaffected semantics-wise, AND empties
    assert count_matches_index(spark, phrase_index, f"{ta} zzznope", cfg, "and") == 0
    assert count_matches_index(spark, phrase_index, "", cfg, "or") == 0


def test_engine_method_and_tombstones(spark, phrase_index, cfg, a_phrase, small_corpus):
    e = Engine(spark, phrase_index, cfg)
    hits = e.search_phrase(a_phrase)
    assert hits == search_phrase_index(spark, phrase_index, a_phrase, cfg)
    top_doc = hits[0][0]
    n_before = e.count(a_phrase, mode="and")
    e.delete(doc_ids=[top_doc])
    hits2 = e.search_phrase(a_phrase)
    assert all(d != top_doc for d, _, _ in hits2)
    # the count collector masks tombstones too
    assert e.count(a_phrase, mode="and") == n_before - 1
    # surviving matches: scores recomputed with the reduced phrase df —
    # the same docs (minus the deleted one) must still be present
    before_ids = {d for d, _, _ in hits}
    after_ids = {d for d, _, _ in hits2}
    assert after_ids <= before_ids - {top_doc} or len(hits) == e.cfg.top_k


def test_driver_paths_launch_no_spark_job(spark, phrase_index, cfg, a_phrase):
    """Opening and refreshing an Engine, every serving call that takes its
    driver path, a search above the driver budget (the block-max walk),
    hydration and more-like read segments and the forward index with
    pyarrow only: no Spark job runs under the group."""
    from dawnsearch_spark.operators.phrase_serve import count_matches_index

    ta, tb = a_phrase.split()
    sc = spark.sparkContext
    group = "driver-path-serving"
    sc.setJobGroup(group, "driver-path serving must launch no job")
    try:
        e = Engine(spark, phrase_index, cfg).refresh()
        starved = Engine(spark, phrase_index, replace(cfg, max_driver_postings=16))
        assert e.search(a_phrase)
        assert e.last_search_counters["path"] == "driver"
        assert e.search_phrase(a_phrase)
        assert e.last_search_counters["path"] == "driver"
        assert e.search_near(ta, tb, 4)
        assert e.last_search_counters["path"] == "driver"
        for mode in ("or", "and"):
            assert e.count(a_phrase, mode=mode) > 0
            ctr: dict = {}
            count_matches_index(
                spark, phrase_index, a_phrase, cfg, mode,
                tombstones=e._tombstones, counters=ctr,
            )
            assert ctr["path"] == "driver"
        assert e.explain(a_phrase, e.search(a_phrase)[0][0])["matched"]
        assert starved.search(a_phrase)
        assert starved.last_search_counters["path"] == "block_max"
        rows = e.search_df(a_phrase).collect()
        assert rows and all(r["sha_ok"] for r in rows)
        assert e.more_like(rows[0]["doc_id"])
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # control: a job in the same group is visible to the tracker
        spark.range(3).count()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
