"""Incremental Engine.refresh() (VERDICT r4 #5).

The scale claim under test: after a plain append, re-syncing a live
serving Engine reads ONLY the new generations' metadata files — committed
generations are immutable, so re-reading them per append is O(index
metadata) wasted IO (the serving-side twin of the stage-1b incremental
dictionary). The posting-list LRU survives the refresh except for terms
that actually gained a row, of any layout. Reference analog: the in-RAM index is
updated in place on insert, never reloaded from disk
(/root/reference/src/search/search_provider.rs:250-286).
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np

from dawnsearch_spark.corpus import generate_corpus, with_content_sha
from dawnsearch_spark.index_build import build_index, segment_generations
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.streaming.incremental import append_documents


def _meta_equal(a, b) -> bool:
    ca, cb = a.columns(), b.columns()
    if any(len(ca[k]) != len(cb[k]) for k in ca):
        return False
    # row order within a term is load-order; compare as sorted tuples
    rows = lambda c: sorted(
        zip(c["term"], c["range_id"], c["n_docs"], c["max_tf"], c["min_dl"])
    )
    return rows(ca) == rows(cb)


def test_refresh_reads_only_new_generations(spark, cfg, tmp_path):
    d = str(tmp_path / "idx")
    base = with_content_sha(generate_corpus(spark, 300, seed=11, vocab_size=1200))
    build_index(spark, base, d, cfg, n_groups=1)
    e = Engine(spark, d, cfg)
    assert e.last_meta_load["mode"] == "full"
    assert e.last_meta_load["gens_read"] == [0]

    extra = with_content_sha(
        generate_corpus(spark, 60, seed=11, vocab_size=1200, start=300)
    )
    append_documents(spark, d, extra, cfg, n_groups=1)
    e.refresh()
    # the file-access contract: only the NEW generation was read
    assert e.last_meta_load["mode"] == "incremental"
    assert e.last_meta_load["gens_read"] == [1]
    assert e._meta_gens == [0, 1]

    # the folded dictionary equals a from-scratch load, and so do queries
    fresh = Engine(spark, d, cfg)
    assert _meta_equal(e._meta_by_term, fresh._meta_by_term)
    for q in ("parse http request", "fn the let", "struct net bind listen"):
        assert e.search(q) == fresh.search(q), q


def test_refresh_keeps_unaffected_cache_entries(spark, cfg, tmp_path):
    """A cached list whose term is absent from the appended batch must
    survive the incremental refresh: the search after refresh is a cache
    HIT with zero decode. A cached HEAVY (range-row) term that the batch
    does contain must miss and decode again."""
    d = str(tmp_path / "idx")
    base = with_content_sha(generate_corpus(spark, 300, seed=13, vocab_size=1200))
    build_index(spark, base, d, cfg, n_groups=1)
    e = Engine(spark, d, cfg)
    # pick a light term actually present in the base corpus
    from pyspark.sql import functions as F

    terms = spark.read.parquet(d + "/terms")
    t = (
        terms.filter((~F.col("heavy")) & (F.col("df") >= 5) & (F.col("df") <= 20))
        .orderBy("term")
        .limit(1)
        .collect()[0]["term"]
    )
    h = terms.filter(F.col("heavy")).orderBy(F.desc("df"), "term").first()["term"]
    for q in ({t: 1}, {h: 1}):  # populates the LRU
        e.search(q)
        assert e.last_search_counters["light_cache_misses"] == 1

    # append a batch whose vocabulary is DISJOINT from t (no new row for
    # t) but holds the heavy term h
    extra = with_content_sha(
        spark.createDataFrame(
            [
                (f"zr{i}", f"zp{i}", "c0", "py", f"zzuniq{i} yyuniq{i} xxuniq {h}")
                for i in range(20)
            ],
            "repo string, path string, commit string, lang string, content string",
        )
    )
    append_documents(spark, d, extra, cfg, n_groups=1)
    e.refresh()
    assert e.last_meta_load["mode"] == "incremental"
    assert t not in e.last_meta_load["new_terms"]
    assert h in e.last_meta_load["new_terms"]

    got = e.search({t: 1})
    ctr = e.last_search_counters
    assert ctr["light_cache_hits"] >= 1, ctr
    assert ctr["driver_postings_decoded"] == 0, ctr
    # and the served scores equal a cold Engine over the same state
    assert got == Engine(spark, d, cfg).search({t: 1})

    # the heavy term gained rows: its cached list was dropped, so the
    # search misses and decodes its whole (grown) list again
    got_h = e.search({h: 1})
    ctr = e.last_search_counters
    assert ctr["path"] == "driver", ctr
    assert (ctr["light_cache_hits"], ctr["light_cache_misses"]) == (0, 1), ctr
    assert ctr["driver_postings_decoded"] == ctr["postings_scored"] > 0, ctr
    assert got_h == Engine(spark, d, cfg).search({h: 1})

    # a term the append DID touch must have been evicted
    zz = "zzuniq3"
    assert zz in e.last_meta_load["new_terms"]


def test_refresh_falls_back_to_full_on_compaction(spark, cfg, tmp_path):
    ccfg = replace(cfg, max_segment_generations=2)
    d = str(tmp_path / "idx")
    base = with_content_sha(generate_corpus(spark, 200, seed=17, vocab_size=1000))
    build_index(spark, base, d, ccfg, n_groups=1)
    e = Engine(spark, d, ccfg)
    total = 200
    for i in range(3):
        extra = with_content_sha(
            generate_corpus(spark, 40, seed=17, vocab_size=1000, start=total)
        )
        append_documents(spark, d, extra, ccfg, n_groups=1)
        total += 40
        e.refresh()
    # the generation list shrank at least once (compaction) -> full reload
    gens = segment_generations(d)
    assert any(len(g["groups"]) > 1 for g in gens), gens
    assert e.last_meta_load["mode"] in ("incremental", "full")
    fresh = Engine(spark, d, ccfg)
    assert _meta_equal(e._meta_by_term, fresh._meta_by_term)
    for q in ("parse http request", "fn the let"):
        assert e.search(q) == fresh.search(q), q
