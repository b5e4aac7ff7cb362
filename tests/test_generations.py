"""Tiered segment generations (VERDICT r3 demand #1).

The scale claim under test: an append's segment-write IO is O(batch) —
only a new generation directory is written; committed generations are
byte-untouched — while query results stay rank-identical to a
from-scratch build, and a threshold-triggered compaction folds the tiers
back into one generation without changing any result. Reference analog:
O(batch) insert + periodic save
(/root/reference/src/search/search_provider.rs:250-286, :173-181).
"""

from __future__ import annotations

import os
from dataclasses import replace

import pytest

from dawnsearch_spark.corpus import generate_corpus, with_content_sha
from dawnsearch_spark.index_build import (
    IndexPaths,
    build_index,
    read_segments,
    segment_generations,
)
from dawnsearch_spark.manifest import dir_bytes
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.streaming.incremental import append_documents
from conftest import search_df_rows

QUERIES = ["parse http request", "async await", "struct net bind listen"]


def _keyed(engine: Engine, q: str) -> list[tuple[tuple, float]]:
    """[(identity_key, rounded_score)] — docIDs differ by construction
    between appended and fresh builds (appends number new docs at the end,
    reference rowid semantics), so identity + exact score vector is the
    rank-identity contract (same convention as test_incremental)."""
    rows = search_df_rows(engine, q)
    return [((r["repo"], r["path"], r["commit"]), round(r["score"], 9)) for r in rows]


def _assert_same_nontied(got, want, ctx) -> None:
    if not got:
        return
    kth = got[-1][1]
    above_g = {key for key, s in got if s > kth}
    above_w = {key for key, s in want if s > kth}
    assert above_g == above_w, f"non-tied results differ: {ctx}"


def _snapshot(d: str) -> dict[str, tuple[int, float]]:
    """(size, mtime) of every file under d — byte-untouched detector."""
    out = {}
    for dirpath, _dn, fns in os.walk(d):
        for fn in fns:
            p = os.path.join(dirpath, fn)
            st = os.stat(p)
            out[os.path.relpath(p, d)] = (st.st_size, st.st_mtime_ns)
    return out


def test_append_writes_one_generation_o_batch(spark, cfg, tmp_path):
    """Appending a small batch must (a) add exactly one new generation,
    (b) leave every committed generation file byte-untouched, and
    (c) write segment bytes ≪ the total segment bytes (O(batch), not
    O(index) — the round-3 write-amplification defect)."""
    d = str(tmp_path / "idx")
    base = with_content_sha(generate_corpus(spark, 360, seed=42, vocab_size=2000))
    build_index(spark, base, d, cfg, n_groups=2)
    paths = IndexPaths(d)
    gens0 = segment_generations(d)
    assert [g["gen"] for g in gens0] == [0]
    before = _snapshot(os.path.join(paths.segments, "gen=0"))
    seg_bytes_before = dir_bytes(paths.segments)

    extra = with_content_sha(
        generate_corpus(spark, 40, seed=42, vocab_size=2000, start=360)
    )
    append_documents(spark, d, extra, cfg, n_groups=1)

    gens1 = segment_generations(d)
    assert [g["gen"] for g in gens1] == [0, 1], "append adds one generation"
    after = _snapshot(os.path.join(paths.segments, "gen=0"))
    assert after == before, "committed generation files must be byte-untouched"
    new_gen_bytes = dir_bytes(os.path.join(paths.segments, "gen=1"))
    # the 40-doc generation must be far smaller than the 360-doc base
    assert new_gen_bytes < seg_bytes_before / 2, (
        f"append wrote {new_gen_bytes} B vs index {seg_bytes_before} B — "
        "not O(batch)"
    )


def test_rank_identity_across_appends_and_compaction(spark, cfg, tmp_path):
    """N appends (tiered generations) then compaction: every intermediate
    state and the compacted state must be rank- AND score-identical to a
    from-scratch build over the same docs."""
    # compact after >2 generations so the 3rd append triggers it
    ccfg = replace(cfg, max_segment_generations=2)
    inc = str(tmp_path / "inc")
    fresh = str(tmp_path / "fresh")
    chunks = [
        with_content_sha(generate_corpus(spark, n, seed=42, vocab_size=2000, start=s))
        for s, n in ((0, 200), (200, 80), (280, 80), (360, 40))
    ]
    build_index(spark, chunks[0], inc, ccfg, n_groups=1)
    total = 200
    for i, chunk in enumerate(chunks[1:], start=1):
        append_documents(spark, inc, chunk, ccfg, n_groups=1)
        total += (40 if i == 3 else 80)
        full = with_content_sha(
            generate_corpus(spark, total, seed=42, vocab_size=2000)
        )
        fdir = f"{fresh}_{i}"
        build_index(spark, full, fdir, ccfg, n_groups=2)
        e_inc = Engine(spark, inc, ccfg)
        e_fresh = Engine(spark, fdir, ccfg)
        for q in QUERIES:
            got, want = _keyed(e_inc, q), _keyed(e_fresh, q)
            assert [s for _, s in got] == [s for _, s in want], (i, q)
            _assert_same_nontied(got, want, (i, q))
    # append 2 pushed the count past max_segment_generations=2 -> that
    # build compacted [0,1,2] into one generation; append 3 then added a
    # fresh single-group generation on top
    gens = segment_generations(inc)
    assert len(gens) <= 2, f"compaction never ran: {gens}"
    assert any(len(g["groups"]) > 1 for g in gens), (
        f"expected a compacted multi-group generation, got {gens}"
    )
    covered = sorted(x for g in gens for x in g["groups"])
    assert covered == [0, 1, 2, 3], covered
    # the block-max walk over the final generations (a zero budget walks
    # every query with a posting; the appended generation's light rows
    # start far from docID 0) gives the driver path's answers
    e_walk = Engine(spark, inc, replace(ccfg, max_driver_postings=0))
    paths = []
    for q in QUERIES:
        got = e_walk.search(q)
        assert got == e_inc.search(q), q
        paths.append(e_walk.last_search_counters["path"])
        assert paths[-1] == ("block_max" if got else "driver"), q
    assert "block_max" in paths


def test_mixed_light_heavy_across_generations(spark, cfg, tmp_path):
    """A term under the heavy threshold at gen 0 that crosses it later is
    served from a light row (gen 0) AND range rows (gen 1+)
    simultaneously; df must still be the exact sum and results must match
    the oracle-equivalent fresh build."""
    d = str(tmp_path / "mix")
    fresh = str(tmp_path / "mixfresh")
    # heavy threshold 32 (scaled_for_tests): first chunk keeps common
    # terms under it, the append pushes them over
    c1 = with_content_sha(generate_corpus(spark, 150, seed=7, vocab_size=300))
    c2 = with_content_sha(generate_corpus(spark, 250, seed=7, vocab_size=300, start=150))
    build_index(spark, c1, d, cfg, n_groups=1)
    append_documents(spark, d, c2, cfg, n_groups=1)
    seg = read_segments(spark, d)
    from pyspark.sql import functions as F

    mixed = (
        seg.groupBy("term")
        .agg(
            F.sum((F.col("range_id") == -1).cast("int")).alias("light_rows"),
            F.sum((F.col("range_id") >= 0).cast("int")).alias("range_rows"),
        )
        .filter((F.col("light_rows") > 0) & (F.col("range_rows") > 0))
        .orderBy("term")
        .collect()
    )
    assert mixed, "fixture must exercise a cross-generation mixed-layout term"
    full = with_content_sha(generate_corpus(spark, 400, seed=7, vocab_size=300))
    build_index(spark, full, fresh, cfg, n_groups=2)
    e1, e2 = Engine(spark, d, cfg), Engine(spark, fresh, cfg)
    for q in QUERIES + ["fn the let"]:
        got, want = _keyed(e1, q), _keyed(e2, q)
        assert [s for _, s in got] == [s for _, s in want], q
        _assert_same_nontied(got, want, q)
    # the block-max walk over the same generations (a zero budget walks
    # every query with a posting, mixed-layout terms included) gives the
    # driver path's answers
    e3 = Engine(spark, d, replace(cfg, max_driver_postings=0))
    for q in QUERIES + ["fn the let", {mixed[0]["term"]: 1}]:
        got = e3.search(q)
        assert got == e1.search(q), q
        assert e3.last_search_counters["path"] == ("block_max" if got else "driver"), q
    # the mixed term's light and range rows are cached as one list: a
    # repeated search fetches and decodes nothing
    q = {mixed[0]["term"]: 1}
    first = e1.search(q)
    assert e1.search(q) == first
    ctr = e1.last_search_counters
    assert ctr["light_cache_misses"] == 0 and ctr["driver_postings_decoded"] == 0, ctr


def test_generation_union_keeps_partition_pruning(spark, cfg, tmp_path):
    """The manifest-listed-generations union read must preserve bucket
    partition pruning and term predicate pushdown — otherwise every query
    over a tiered index scans all buckets of all generations."""
    d = str(tmp_path / "idx")
    base = with_content_sha(generate_corpus(spark, 200, seed=2, vocab_size=800))
    build_index(spark, base, d, cfg, n_groups=1)
    append_documents(
        spark,
        d,
        with_content_sha(generate_corpus(spark, 60, seed=2, vocab_size=800, start=200)),
        cfg,
        n_groups=1,
    )
    from pyspark.sql import functions as F

    seg = read_segments(spark, d)
    q = seg.filter(F.col("bucket").isin([2, 5]) & F.col("term").isin(["parse", "http"]))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan and "IN (2" in plan, plan[:800]
    assert "PushedFilters: [In(term" in plan, plan[:800]


def test_incremental_dictionary_matches_full_aggregation(spark, cfg, tmp_path):
    """Stage 1b on append folds only the NEW groups' run metadata into the
    committed dictionary (O(dict + batch), never the whole runs dir). The
    result must equal the full re-aggregation exactly — df, cf, and the
    heavy flag under the new n_docs-scaled threshold."""
    d = str(tmp_path / "idx")
    base = with_content_sha(generate_corpus(spark, 250, seed=9, vocab_size=900))
    build_index(spark, base, d, cfg, n_groups=2)
    logs: list[str] = []
    extra = with_content_sha(
        generate_corpus(spark, 80, seed=9, vocab_size=900, start=250)
    )
    append_documents(spark, d, extra, cfg, n_groups=1, log=logs.append)
    assert any("incrementally" in m for m in logs), logs
    got = {
        r["term"]: (r["df"], r["cf"], r["heavy"])
        for r in spark.read.parquet(d + "/terms").collect()
    }
    # ground truth: df/cf of the whole corpus, tokenized from scratch
    from dawnsearch_spark.operators.tf import document_frequencies, term_frequencies

    eff = cfg.effective_heavy_df_threshold(330)
    want = {
        r["term"]: (r["df"], r["cf"], r["df"] > eff)
        for r in document_frequencies(
            term_frequencies(spark.read.parquet(d + "/documents"))
        ).collect()
    }
    assert got == want


def test_size_tiered_compaction_leaves_big_generation_untouched(spark, cfg, tmp_path):
    """Lucene-style tiering: when the generation cap is hit, only the
    SMALLEST generations merge — the big base generation's files stay
    byte-identical across repeated appends+compactions (a full re-merge
    would amortize to O(index) write IO per append), and results stay
    identical to a fresh build."""
    ccfg = replace(cfg, max_segment_generations=3)
    d = str(tmp_path / "idx")
    # base ≫ appends so the size tiers are unambiguous (at unit scale
    # parquet per-file overhead can make a 30-doc generation look
    # byte-comparable to a 300-doc one)
    base = with_content_sha(generate_corpus(spark, 800, seed=4, vocab_size=1500))
    build_index(spark, base, d, ccfg, n_groups=1)
    paths = IndexPaths(d)
    gen0_before = _snapshot(os.path.join(paths.segments, "gen=0"))
    total = 800
    for i in range(4):
        extra = with_content_sha(
            generate_corpus(spark, 20, seed=4, vocab_size=1500, start=total)
        )
        append_documents(spark, d, extra, ccfg, n_groups=1)
        total += 20
    gens = segment_generations(d)
    assert len(gens) <= 3, gens
    assert sorted(x for g in gens for x in g["groups"]) == list(range(5))
    # the 300-doc base generation was never selected for compaction
    assert any(int(g["gen"]) == 0 for g in gens), gens
    assert _snapshot(os.path.join(paths.segments, "gen=0")) == gen0_before
    # and the served results equal a from-scratch build
    fresh = str(tmp_path / "fresh")
    build_index(
        spark,
        with_content_sha(generate_corpus(spark, total, seed=4, vocab_size=1500)),
        fresh,
        ccfg,
        n_groups=2,
    )
    e1, e2 = Engine(spark, d, ccfg), Engine(spark, fresh, ccfg)
    for q in QUERIES:
        got, want = _keyed(e1, q), _keyed(e2, q)
        assert [s for _, s in got] == [s for _, s in want], q
        _assert_same_nontied(got, want, q)


def test_append_of_tokenless_docs(spark, cfg, tmp_path):
    """An append whose batch yields ZERO postings (empty content) must
    commit a 0-row generation without crashing, leave search untouched,
    and keep the forward index / stats consistent."""
    d = str(tmp_path / "idx")
    build_index(
        spark,
        with_content_sha(generate_corpus(spark, 100, seed=3, vocab_size=500)),
        d,
        cfg,
        n_groups=1,
    )
    e = Engine(spark, d, cfg)
    before = e.search("parse http request")
    empty = with_content_sha(
        spark.createDataFrame(
            [(f"zr{i}", f"zp{i}", "c0", "py", "") for i in range(5)],
            "repo string, path string, commit string, lang string, content string",
        )
    )
    counters = append_documents(spark, d, empty, cfg)
    assert counters["appended"] == 5
    gens = segment_generations(d)
    assert any(int(g["rows"]) == 0 for g in gens), gens
    e.refresh()
    assert e.stats_.n_docs == 105
    got = e.search("parse http request")
    # N moved 100 -> 105, so idf/avgdl (and near-ties) may reorder — the
    # contract is identity with a FRESH Engine over the same on-disk state
    fresh = Engine(spark, d, cfg).search("parse http request")
    assert got == fresh
    assert {d_ for d_, _ in got} == {d_ for d_, _ in before} or len(got) == len(before)
