"""End-to-end index build + block-max WAND rank-identity vs the exact
oracle on the full reference query set (the BASELINE.json metric), plus
resume and skew-path correctness (SURVEY.md §5)."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from dawnsearch_spark.corpus import REFERENCE_QUERIES
from dawnsearch_spark.index_build import build_index, load_stats
from dawnsearch_spark.manifest import list_manifests, read_manifest
from dawnsearch_spark.operators.oracle import bm25_exact_topk
from dawnsearch_spark.operators.tf import (
    document_frequencies,
    term_frequencies,
)
from dawnsearch_spark.plans.query import Engine
from conftest import corpus_stats_of, search_df_rows


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, spark, small_corpus, cfg):
    d = str(tmp_path_factory.mktemp("index"))
    build_index(spark, small_corpus, d, cfg, n_groups=4)
    return d


@pytest.fixture(scope="module")
def oracle_inputs(spark, small_corpus):
    tf = term_frequencies(small_corpus).cache()
    stats = corpus_stats_of(small_corpus)
    dfs = document_frequencies(tf).cache()
    tf.count()
    return tf, stats, dfs


def test_manifests_and_stats(index_dir, cfg):
    ms = list_manifests(index_dir)
    assert "documents" in ms and "stats" in ms and "segments" in ms
    assert any(k.startswith("runs_group_") for k in ms)
    stats = load_stats(index_dir)
    assert stats.n_docs == 400
    seg = read_manifest(index_dir, "segments")
    assert seg["postings"] == read_manifest(index_dir, "stats")["n_postings"]


def test_heavy_terms_exist(spark, index_dir, cfg):
    """The scaled-down threshold must actually exercise the range-split path."""
    terms = spark.read.parquet(index_dir + "/terms")
    n_heavy = terms.filter(F.col("heavy")).count()
    assert n_heavy > 0, "corpus must produce heavy (stopword-like) terms"
    seg = spark.read.parquet(index_dir + "/segments")
    assert seg.filter(F.col("range_id") >= 0).count() > 0  # range-chunked heavy rows
    assert seg.filter(F.col("range_id") == -1).count() > 0  # light rows


@pytest.mark.parametrize("qid", sorted(REFERENCE_QUERIES))
def test_wand_rank_identical_to_oracle(spark, index_dir, oracle_inputs, cfg, qid):
    tf, stats, dfs = oracle_inputs
    query = REFERENCE_QUERIES[qid]
    engine = Engine(spark, index_dir, cfg)
    got = engine.search(query)
    want = [
        (r["doc_id"], r["score"])
        for r in bm25_exact_topk(tf, dfs, stats, query, cfg).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want], f"docIDs differ for {query!r}"
    for (gd, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9), f"score differs for doc {gd} in {query!r}"


@pytest.mark.parametrize("qid", sorted(REFERENCE_QUERIES)[:8])
def test_distributed_branch_rank_identical(
    spark, index_dir, oracle_inputs, cfg, block_max_cfg, qid
):
    """Force the block-max walk (a budget one posting short of the
    query's lists keeps it off the driver path) and demand the same rank
    identity: θ pruning must be semantics-free."""
    from dawnsearch_spark.operators.wand import new_counters, search_index

    tf, stats, dfs = oracle_inputs
    query = REFERENCE_QUERIES[qid]
    ctr = new_counters()
    got = search_index(
        index_dir, query, block_max_cfg(cfg, index_dir, query), counters=ctr,
    )
    assert ctr["path"] == "block_max"
    want = [
        (r["doc_id"], r["score"])
        for r in bm25_exact_topk(tf, dfs, stats, query, cfg).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want], f"docIDs differ for {query!r}"
    for (gd, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9), f"score differs for doc {gd}"


def test_wand_weighted_bag_and_more_like(spark, index_dir, cfg):
    engine = Engine(spark, index_dir, cfg)
    res = engine.more_like(5)
    assert res, "more-like on an existing doc returns hits"
    # BM25 length normalization can rank a shorter doc above the source doc
    # for a 10-term bag, but the source doc must appear in its own top-k.
    assert 5 in [d for d, _ in res], "source doc appears in its own more-like results"
    hydrated = search_df_rows(engine, "parse http request")
    assert hydrated and all(r["sha_ok"] for r in hydrated)


def test_search_df_flags_tampered_content(spark, index_dir, cfg, tmp_path):
    """One changed content byte in the forward index, its stored
    content_sha kept, gives sha_ok == False for that hit only."""
    import shutil

    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    root = str(tmp_path / "idx")
    shutil.copytree(index_dir, root)
    q = "parse http request"
    victim = Engine(spark, root, cfg).search(q)[0][0]
    for frag in ds.dataset(os.path.join(root, "documents"), format="parquet").get_fragments():
        tbl = frag.to_table()
        ids = tbl.column("doc_id").to_pylist()
        if victim not in ids:
            continue
        content = tbl.column("content").to_pylist()
        i = ids.index(victim)
        content[i] = ("#" if content[i][0] != "#" else "%") + content[i][1:]
        j = tbl.schema.get_field_index("content")
        field = tbl.schema.field(j)
        tbl = tbl.set_column(j, field, pa.array(content, field.type))
        pq.write_table(tbl, frag.path)
        # Spark's local reads check the Hadoop checksum sidecar
        d, name = os.path.split(frag.path)
        os.remove(os.path.join(d, f".{name}.crc"))
    e = Engine(spark, root, cfg)
    rows = search_df_rows(e, q)
    assert {r["doc_id"]: r["sha_ok"] for r in rows} == {d: d != victim for d, _ in e.search(q)}
    assert e.verify()["sha_mismatch"] == 1


def test_search_df_empty_result_has_reference_schema(spark, index_dir, cfg):
    """A query with no hits gives an empty frame whose schema is the
    reference join's (``search_df_rows`` asserts the schema)."""
    assert search_df_rows(Engine(spark, index_dir, cfg), "zzzqqqxnotaterm") == []


def test_resume_skips_committed_groups(spark, small_corpus, cfg, tmp_path):
    """Kill after group 1, re-run: committed groups skipped, final index
    identical to a clean build (S6 load-else-rebuild semantics)."""
    d1 = str(tmp_path / "partial")

    class Stop(Exception):
        pass

    calls = {"groups": 0}

    def log(msg):
        if msg.startswith("stage2 group"):
            calls["groups"] += 1
            if calls["groups"] == 2:
                raise Stop()

    with pytest.raises(Stop):
        build_index(spark, small_corpus, d1, cfg, n_groups=4, log=log)
    ms = list_manifests(d1)
    done_groups = [k for k in ms if k.startswith("runs_group_")]
    assert len(done_groups) == 2 and "segments" not in ms

    covered_before = max(
        read_manifest(d1, g)["doc_hi"] for g in done_groups
    )
    resumed_groups = []
    build_index(
        spark,
        small_corpus,
        d1,
        cfg,
        n_groups=4,
        log=lambda m: resumed_groups.append(m) if m.startswith("stage2") else None,
    )
    # only the uncovered doc span re-ran (the resume plan may re-split it
    # into different group boundaries; coverage is what matters)
    assert resumed_groups, "resume built the remaining groups"
    ms2 = list_manifests(d1)
    spans = sorted(
        (m["doc_lo"], m["doc_hi"])
        for k, m in ms2.items()
        if k.startswith("runs_group_")
    )
    assert spans[0][0] == 0 and spans[-1][1] == 400
    assert all(a[1] == b[0] for a, b in zip(spans, spans[1:])), "contiguous, no overlap"
    assert all(lo >= covered_before for lo, _ in spans[2:]), "committed groups untouched"

    d2 = str(tmp_path / "clean")
    build_index(spark, small_corpus, d2, cfg, n_groups=4)
    s1 = spark.read.parquet(d1 + "/segments")
    s2 = spark.read.parquet(d2 + "/segments")
    cols = ["term", "range_id", "n_docs", "doc_blob", "tf_blob", "dl_blob"]
    assert s1.select(cols).exceptAll(s2.select(cols)).count() == 0
    assert s2.select(cols).exceptAll(s1.select(cols)).count() == 0


def test_group_count_invariance(spark, small_corpus, cfg, tmp_path, oracle_inputs):
    """Different build-group counts (the resume/parallelism knob) produce
    identical query results — the skew/range-split path must not change
    semantics (SURVEY.md §7 hard part 2)."""
    d = str(tmp_path / "g2")
    build_index(spark, small_corpus, d, cfg, n_groups=2)
    e2 = Engine(spark, d, cfg)
    tf, stats, dfs = oracle_inputs
    for query in ["def import", "parse http request", "getValue config"]:
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in bm25_exact_topk(tf, dfs, stats, query, cfg).collect()
        ]
        got = [(d_, round(s, 9)) for d_, s in e2.search(query)]
        assert got == want


def test_segment_reader_matches_spark_collect(spark, index_dir, cfg):
    """The pyarrow serving-path reader returns exactly the rows the Spark
    collect would (same pruning semantics)."""
    from dawnsearch_spark.index_build import (
        IndexPaths,
        gen_ids_with_rows,
        segment_generations,
    )
    from dawnsearch_spark.operators.segment_reader import (
        META_COLUMNS,
        read_segment_rows,
    )
    from dawnsearch_spark.operators.wand import _term_bucket

    seg_dir = IndexPaths(index_dir).segments
    terms = ["http", "request", "parse"]
    buckets = sorted({_term_bucket(t, cfg.num_term_buckets) for t in terms})
    gens = gen_ids_with_rows(segment_generations(index_dir))
    local = read_segment_rows(seg_dir, buckets, terms, columns=META_COLUMNS, gens=gens)
    spark_rows = [
        r.asDict()
        for r in spark.read.parquet(seg_dir)
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
        .select(*META_COLUMNS)
        .collect()
    ]
    key = lambda r: (r["term"], r["range_id"])
    assert sorted(local, key=key) == sorted(spark_rows, key=key)
    assert len(local) > 0

    light = read_segment_rows(seg_dir, buckets, terms, range_id=-1, gens=gens)
    assert all(r["range_id"] == -1 for r in light)
    assert {r["term"] for r in light} <= set(terms)


def test_search_without_driver_meta_dictionary(spark, index_dir, cfg):
    """max_driver_meta_rows=0 disables the Engine's driver-resident term
    dictionary; queries must plan via the per-query metadata fetch and
    stay rank-identical."""
    from dataclasses import replace

    eng = Engine(spark, index_dir, cfg)
    no_dict = Engine(spark, index_dir, replace(cfg, max_driver_meta_rows=0))
    assert no_dict._meta_by_term is None and eng._meta_by_term is not None
    for q in ["parse http request", "binary tree search"]:
        assert no_dict.search(q) == eng.search(q)


def test_empty_corpus_build_search_and_grow(spark, cfg, tmp_path):
    """An empty source builds a valid (0-row, schema-bearing) index: the
    Engine boots, searches return no hits, and a later append grows it
    into a serving index (the reference's load-else-rebuild boot path must
    not require a non-empty store, search_provider.rs:111-120)."""
    from dawnsearch_spark.corpus import generate_corpus, with_content_sha
    from dawnsearch_spark.streaming.incremental import append_documents

    root = str(tmp_path / "empty_idx")
    empty = with_content_sha(generate_corpus(spark, 5, seed=1)).filter(
        "repo = 'nope'"
    )
    build_index(spark, empty, root, cfg, n_groups=1)
    eng = Engine(spark, root, cfg)
    assert eng.search("anything at all") == []
    assert eng.stats()["n_docs"] == 0

    more = with_content_sha(generate_corpus(spark, 200, seed=3))
    r = append_documents(spark, root, more, cfg, n_groups=1)
    assert r["appended"] == 200
    eng.refresh()
    assert len(eng.search("parse http request")) == 10
