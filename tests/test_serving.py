"""Serving-path features: the posting-list LRU and the local-only segment
reader."""

from __future__ import annotations

import pytest

from dawnsearch_spark.corpus import generate_corpus, with_content_sha
from dawnsearch_spark.index_build import IndexPaths, build_index
from dawnsearch_spark.operators.segment_reader import read_segment_rows
from dawnsearch_spark.operators.wand import PostingListCache
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.streaming.incremental import append_documents


@pytest.fixture(scope="module")
def served_index(tmp_path_factory, spark, small_corpus, cfg):
    d = str(tmp_path_factory.mktemp("serving_idx"))
    build_index(spark, small_corpus, d, cfg, n_groups=2)
    return d


def test_cache_hits_skip_decode(spark, served_index, cfg):
    """Repeated serving terms must hit the LRU: the second identical
    search decodes ZERO postings on the driver (the reference keeps
    its index RAM-resident between queries, search_provider.rs:111-120)."""
    from pyspark.sql import functions as F

    e = Engine(spark, served_index, cfg)
    light_terms = [
        r["term"]
        for r in spark.read.parquet(served_index + "/terms")
        .filter((~F.col("heavy")) & (F.col("df") >= 4))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(4)
        .collect()
    ]
    assert light_terms, "fixture needs light terms"
    q = {t: 1 for t in light_terms}
    first = e.search(q)
    c1 = dict(e.last_search_counters)
    assert c1["light_cache_misses"] > 0 and c1["light_cache_hits"] == 0
    first_decoded = c1["driver_postings_decoded"]
    second = e.search(q)
    c2 = dict(e.last_search_counters)
    assert second == first
    assert c2["light_cache_hits"] >= c1["light_cache_misses"]
    # every list came from the cache -> decode work strictly drops
    assert c2["driver_postings_decoded"] < first_decoded or first_decoded == 0
    # fully cached: the second search missed nothing (counters are
    # per-search deltas)
    assert c2["light_cache_misses"] == 0


def test_cache_eviction_bounded():
    cache = PostingListCache(max_postings=100)
    import numpy as np

    def lists(n):
        a = np.arange(n)
        return (a, a, a)

    cache.put("a", lists(60), 60)
    cache.put("b", lists(50), 50)  # evicts a (total would be 110)
    assert cache.get("a") is None
    assert cache.get("b") is not None
    cache.put("huge", lists(1000), 1000)  # over bound: never inserted
    assert cache.get("huge") is None
    assert cache.get("b") is not None, "oversized insert must not flush cache"


def test_refresh_invalidates_cache(spark, served_index, cfg, tmp_path):
    """After an append, refresh() must invalidate every cached list the
    append made stale — any term that gained a row in the new generation
    — so the served results match a cold Engine exactly.
    (Since round 5 the invalidation is SELECTIVE: untouched terms stay
    cached — see test_refresh_incremental for that half.)"""
    import shutil

    d = str(tmp_path / "idx")
    shutil.copytree(served_index, d)
    e = Engine(spark, d, cfg)
    q = "parse http request"
    e.search(q)
    extra = with_content_sha(
        generate_corpus(spark, 50, seed=42, vocab_size=2000, start=400)
    )
    append_documents(spark, d, extra, cfg, n_groups=1)
    e.refresh()
    # the shared-vocab append touched the query terms -> their cached
    # lists must be gone, the next search re-fetches and matches cold
    stale = e.last_meta_load["new_terms"]
    assert e._cache is None or all(e._cache.get(t) is None for t in stale)
    got = e.search(q)
    fresh = Engine(spark, d, cfg).search(q)
    assert got == fresh


def test_segment_reader_rejects_uri(served_index):
    """Segment reads are local-only, like index roots: a URI raises."""
    seg = IndexPaths(served_index).segments
    with pytest.raises(ValueError, match="URI"):
        read_segment_rows("file://" + seg, gens=[0])


def test_missing_listed_generation_raises(tmp_path, spark, small_corpus, cfg):
    """A manifest-listed generation whose directory vanished must fail
    loudly: serving without it would silently drop its docs."""
    import shutil

    from dawnsearch_spark.operators.phrase_serve import count_matches_index

    from dawnsearch_spark.functions.tokenizer import tokenize_py

    d = str(tmp_path / "idx")
    build_index(spark, small_corpus, d, cfg, n_groups=1)
    e = Engine(spark, d, cfg)
    row = small_corpus.orderBy("doc_id").limit(1).collect()[0]
    q = " ".join(tokenize_py(row["content"])[:3])
    seg = IndexPaths(d).segments
    shutil.rmtree(f"{seg}/gen=0")
    with pytest.raises(FileNotFoundError, match="generation 0"):
        read_segment_rows(seg, gens=[0])
    with pytest.raises(FileNotFoundError, match="generation 0"):
        count_matches_index(spark, d, q, cfg, "or")
    # the terms are in the index but not in the Engine's LRU yet, so
    # the search must read their posting rows
    with pytest.raises(FileNotFoundError, match="generation 0"):
        e.search(q)
