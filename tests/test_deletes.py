"""Delete lifecycle: tombstones -> filtered serving -> purge (round 5).

Lucene-style contract under test:
  * ``delete_documents`` is O(delete batch): it writes only the tombstone
    set — segments, forward index, and stats are untouched;
  * every search path (driver, light-only, distributed fan-out, θ seeds)
    excludes tombstoned docs IMMEDIATELY, and surviving docs keep their
    PRE-delete scores until purge (deleted docs still count in N/df —
    exactly Lucene's deleted-docs staleness);
  * ``purge_deletes`` rewrites the index once (tombstone-filtered merge
    sourced from the index's own segment rows + forward-index rewrite +
    dictionary/stats rebuild), after which scores are EXACTLY a
    from-scratch build over the survivors; docIDs keep their original
    values (the ID space has holes);
  * appends keep working after purge (ids continue from max+1; the
    recorded ``id_space`` legitimizes the holes).

Reference analog: the reference row store is insert-only with a capacity
cap (/root/reference/src/search/search_provider.rs:164-166) — delete is
the index-lifecycle step it never finished.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np

from dawnsearch_spark.corpus import generate_corpus, with_content_sha
from dawnsearch_spark.index_build import IndexPaths, build_index, segment_generations
from dawnsearch_spark.manifest import read_manifest
from dawnsearch_spark.operators.wand import new_counters, search_index
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.streaming.incremental import (
    append_documents,
    delete_documents,
    purge_deletes,
    tombstone_ids,
)

QUERIES = ["parse http request", "struct net bind listen", "fn the let"]


def _corpus(spark, n=300, seed=21, start=0):
    return with_content_sha(
        generate_corpus(spark, n, seed=seed, vocab_size=1200, start=start)
    )


def _keyed(engine: Engine, q: str):
    rows = engine.search_df(q).select("repo", "path", "commit", "score").collect()
    return [((r["repo"], r["path"], r["commit"]), round(r["score"], 9)) for r in rows]


def test_delete_filters_all_paths_with_stale_stats(spark, cfg, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, _corpus(spark), d, cfg, n_groups=2)
    e = Engine(spark, d, cfg)
    before = {q: e.search(q, k=20) for q in QUERIES}
    victims = sorted({doc for q in QUERIES for doc, _ in before[q][:3]})
    assert victims
    from dawnsearch_spark.manifest import dir_bytes

    paths = IndexPaths(d)
    seg_bytes_before = dir_bytes(paths.segments)
    doc_bytes_before = dir_bytes(paths.documents)
    out = delete_documents(spark, d, cfg, doc_ids=victims)
    assert out["added"] == len(victims)
    # O(delete batch): neither segments nor forward index were touched
    assert dir_bytes(paths.segments) == seg_bytes_before
    assert dir_bytes(paths.documents) == doc_bytes_before
    e.refresh()
    for q in QUERIES:
        got = e.search(q, k=20)
        assert e.last_search_counters["tombstones"] == len(victims)
        got_ids = {doc for doc, _ in got}
        assert not (got_ids & set(victims)), q
        # survivors keep their PRE-delete scores exactly (stats stale by
        # contract until purge); ties may reorder by doc_id, so compare
        # the score sequence of the shared prefix
        want = [(doc, s) for doc, s in before[q] if doc not in set(victims)]
        n = min(len(got), len(want))
        assert [round(s, 9) for _, s in got[:n]] == [
            round(s, 9) for _, s in want[:n]
        ], q

    # distributed fan-out agrees with the driver path under tombstones
    tomb = tombstone_ids(d)
    fanned_out = False
    for q in QUERIES:
        ctr = new_counters()
        dist = search_index(
            spark, d, q, replace(cfg, max_driver_postings=16),
            max_driver_heavy_rows=0, task_groups=4, counters=ctr,
            tombstones=tomb,
        )
        fanned_out |= ctr["path"] == "distributed"
        want = e.search(q)
        assert [(x, round(s, 9)) for x, s in dist] == [
            (x, round(s, 9)) for x, s in want
        ], (q, ctr["path"])
    assert fanned_out, "no query exercised the distributed branch"

    assert read_manifest(d, "tombstones")["count"] == len(victims)
    assert segment_generations(d), "generation list must remain committed"

    # idempotent re-delete
    assert delete_documents(spark, d, cfg, doc_ids=victims)["added"] == 0


def test_purge_matches_fresh_build_over_survivors(spark, cfg, tmp_path):
    d = str(tmp_path / "idx")
    fresh = str(tmp_path / "fresh")
    full = _corpus(spark, 300)
    build_index(spark, full, d, cfg, n_groups=2)
    victims = list(range(3, 300, 7))
    delete_documents(spark, d, cfg, doc_ids=victims)
    stats = purge_deletes(spark, d, cfg)
    assert stats["purged"] == len(victims)
    assert stats["n_docs"] == 300 - len(victims)
    assert len(tombstone_ids(d)) == 0

    # no deleted doc's postings remain anywhere in the segments
    from pyspark.sql import functions as F

    from dawnsearch_spark.index_build import read_segments

    seg = read_segments(spark, d)
    from dawnsearch_spark.functions.codec import decode_all_postings

    rows = seg.select("n_docs", "doc_blob", "tf_blob", "dl_blob").collect()
    vic = np.asarray(victims, np.int64)
    for r in rows:
        docs, _, _ = decode_all_postings(
            {"n_docs": r["n_docs"], "doc_blob": bytes(r["doc_blob"]),
             "tf_blob": bytes(r["tf_blob"]), "dl_blob": bytes(r["dl_blob"])},
            cfg.block_size,
        )
        pos = np.searchsorted(vic, docs)
        hit = (pos < len(vic)) & (vic[np.minimum(pos, len(vic) - 1)] == docs)
        assert not hit.any(), "purge left postings of a deleted doc"

    # score identity with a from-scratch build over the survivors
    surv_rows = spark.read.parquet(IndexPaths(d).documents).select(
        "repo", "path", "commit", "lang", "content"
    )
    build_index(spark, with_content_sha(surv_rows), fresh, cfg, n_groups=2)
    e1, e2 = Engine(spark, d, cfg), Engine(spark, fresh, cfg)
    assert e1.stats_.n_docs == e2.stats_.n_docs
    assert abs(e1.stats_.avgdl - e2.stats_.avgdl) < 1e-12
    for q in QUERIES:
        got, want = _keyed(e1, q), _keyed(e2, q)
        assert [s for _, s in got] == [s for _, s in want], q


def test_append_after_purge_and_key_delete(spark, cfg, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 200), d, cfg, n_groups=1)
    e = Engine(spark, d, cfg)

    # delete by identity KEYS (resolved via the forward index)
    docs_df = spark.read.parquet(IndexPaths(d).documents)
    keys = docs_df.filter((docs_df.doc_id % 5) == 0).select("repo", "path", "commit")
    n_victims = keys.count()
    e.delete(keys=keys)
    got = e.search("parse http request", k=20)
    assert all(doc % 5 != 0 for doc, _ in got)
    e.purge()
    assert e.stats_.n_docs == 200 - n_victims

    # append continues from max+1 into the hole-y ID space
    m = read_manifest(d, "documents")
    assert m["purged"] and m["id_space"] == 200
    append_documents(spark, d, _corpus(spark, 50, start=200), cfg, n_groups=1)
    e.refresh()
    assert e.stats_.n_docs == 200 - n_victims + 50
    m2 = read_manifest(d, "documents")
    assert m2["id_space"] == 250
    # the new docs are searchable and no doc_id collided
    docs = spark.read.parquet(IndexPaths(d).documents)
    from pyspark.sql import functions as F

    agg = docs.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("nd")
    ).collect()[0]
    assert agg["n"] == agg["nd"] == 200 - n_victims + 50

    # deleting unknown ids is harmless
    delete_documents(spark, d, cfg, doc_ids=[10_000, 10_001])
    e.refresh()
    assert e.search("parse http request")


def test_purge_crash_window_serves_correctly(spark, cfg, tmp_path):
    """Purge's crash contract: tombstones are cleared LAST, so a crash at
    ANY earlier point leaves the filter active and results correct. This
    simulates the widest window — purged segments committed, runs GC'd,
    but forward index NOT yet rewritten and tombstones still present —
    and asserts (a) searches exclude the deleted docs and agree with a
    healthy post-purge index on ids, (b) re-running purge completes the
    job to the exact healthy end state."""
    import shutil

    d = str(tmp_path / "idx")
    healthy = str(tmp_path / "healthy")
    corpus = _corpus(spark, 250, seed=33)
    build_index(spark, corpus, d, cfg, n_groups=2)
    shutil.copytree(d, healthy)
    victims = list(range(1, 250, 6))
    for root in (d, healthy):
        delete_documents(spark, root, cfg, doc_ids=victims)
    purge_deletes(spark, healthy, cfg)

    # reproduce purge steps 1-2 only (purged merge + segments commit +
    # runs GC), then "crash" before the forward rewrite / stats rebuild
    from dawnsearch_spark.index_build import (
        gc_run_dirs,
        merge_groups_to_generation,
    )
    from dawnsearch_spark.manifest import config_fingerprint, dir_bytes, write_manifest
    from dawnsearch_spark.streaming.incremental import tombstone_ids as _tids

    paths = IndexPaths(d)
    gens = segment_generations(d)
    all_groups = sorted({int(x) for g in gens for x in g["groups"]})
    new_gen = max(int(g["gen"]) for g in gens) + 1
    gd = merge_groups_to_generation(
        spark, paths, cfg, all_groups, new_gen,
        source_gens=gens, tombstones=_tids(d),
    )
    write_manifest(
        d, "segments",
        {"fingerprint": config_fingerprint(cfg), "generations": [gd],
         "rows": gd["rows"], "postings": gd["postings"],
         "bytes": dir_bytes(paths.segments), "n_groups": len(all_groups)},
    )
    for g in gens:
        shutil.rmtree(
            f"{paths.segments}/gen={int(g['gen'])}", ignore_errors=True
        )
    gc_run_dirs(d)
    # --- crash point: tombstones + unrewritten forward index remain ---
    assert len(tombstone_ids(d)) == len(victims)

    e_crashed = Engine(spark, d, cfg)
    e_healthy = Engine(spark, healthy, cfg)
    for q in QUERIES:
        got = e_crashed.search(q)
        if e_healthy.search(q):
            assert got, q  # queries the healthy index answers still serve
        # the hard guarantee in the crash window: no deleted doc is ever
        # served (stats are a stale hybrid there — N pre-purge, df
        # purged — so exact ranks may differ until recovery)
        assert all(doc not in set(victims) for doc, _ in got), q

    # recovery: re-running purge converges to the healthy end state
    purge_deletes(spark, d, cfg)
    e_crashed.refresh()
    assert e_crashed.stats_.n_docs == e_healthy.stats_.n_docs
    for q in QUERIES:
        assert e_crashed.search(q) == e_healthy.search(q), q


def test_purge_on_gc_runs_index(spark, cfg, tmp_path):
    """With runs/ GC'd, purge must source its merge from the segment rows
    (the index is self-sufficient) and still match a fresh build."""
    gc_cfg = replace(cfg, gc_runs=True)
    d = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 250, seed=5), d, gc_cfg, n_groups=2)
    paths = IndexPaths(d)
    import os

    if os.path.isdir(paths.runs):
        assert not any(x.startswith("group=") for x in os.listdir(paths.runs))
    delete_documents(spark, d, gc_cfg, doc_ids=list(range(0, 250, 9)))
    purge_deletes(spark, d, gc_cfg)
    e = Engine(spark, d, gc_cfg)
    got = e.search("parse http request", k=20)
    assert got and all(doc % 9 != 0 for doc, _ in got)
    # dictionary df equals the exact survivor df for a spot-checked term
    from pyspark.sql import functions as F

    td = {r["term"]: r["df"] for r in spark.read.parquet(paths.terms).collect()}
    from dawnsearch_spark.operators.tf import document_frequencies, term_frequencies

    surv = spark.read.parquet(paths.documents)
    want = {
        r["term"]: r["df"]
        for r in document_frequencies(term_frequencies(surv)).collect()
    }
    assert td == want


def test_append_after_purge_with_top_hole(spark, cfg, tmp_path):
    """Purge that removes the MAX doc_id (plus an interior one) leaves
    base = max_live + 1 < id_space. Those top ids are physically gone
    from segments and forward index, so minting new ids from base is
    safe and the append must be accepted — only base > id_space (rows
    beyond the recorded space) is corruption."""
    d = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 120, seed=9), d, cfg, n_groups=1)
    # victims include the top TWO ids and an interior id — after purge the
    # live max is 117, so base=118 while id_space stays 120 (a top hole)
    delete_documents(spark, d, cfg, doc_ids=[40, 118, 119])
    purge_deletes(spark, d, cfg)
    m = read_manifest(d, "documents")
    assert m["id_space"] == 120 and m["n_docs"] == 117

    out = append_documents(spark, d, _corpus(spark, 30, seed=10, start=500), cfg)
    assert out["appended"] == 30
    docs = spark.read.parquet(IndexPaths(d).documents)
    from pyspark.sql import functions as F

    agg = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("nd"),
        F.max("doc_id").alias("mx"),
        F.min("doc_id").alias("mn"),
    ).collect()[0]
    # new ids minted from 118 (re-using the physically-purged top ids is
    # legal), no collisions, interior hole at 40 untouched
    assert agg["n"] == agg["nd"] == 117 + 30
    assert agg["mx"] == 147 and agg["mn"] == 0
    assert docs.filter(F.col("doc_id") == 40).count() == 0
    e = Engine(spark, d, cfg)
    assert e.stats_.n_docs == 147 and e.search("parse http request")

    # genuine corruption is still refused: rows BEYOND the recorded space
    extra = _corpus(spark, 1, seed=77, start=900).withColumn(
        "doc_id", F.lit(10_000).cast("long")
    )
    extra.select(*docs.columns).write.mode("append").parquet(
        IndexPaths(d).documents
    )
    spark.catalog.refreshByPath(IndexPaths(d).documents)
    import pytest

    with pytest.raises(RuntimeError, match="refusing to append"):
        append_documents(spark, d, _corpus(spark, 5, seed=78, start=950), cfg)


def test_delete_crash_between_renames_keeps_old_set(spark, cfg, tmp_path):
    """The two-rename tombstone swap: a crash between rename(d, d_old)
    and rename(tmp, d) leaves only d_old on disk — readers must fall
    back to it (the PRE-delete set; deleted docs never resurface), and
    the next delete_documents call must merge from it and repair d."""
    import os
    import shutil

    from dawnsearch_spark.streaming.incremental import tombstone_dir

    d = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 100, seed=3), d, cfg, n_groups=1)
    delete_documents(spark, d, cfg, doc_ids=[1, 2, 3])
    tdir = os.path.join(d, "tombstones")
    assert tombstone_dir(d) == tdir

    # simulate the crash window of a second delete: old set moved aside,
    # new set never renamed in
    os.rename(tdir, tdir + "_old")
    assert tombstone_dir(d) == tdir + "_old"
    assert list(tombstone_ids(d)) == [1, 2, 3]
    # serving in the crash window still filters the old set
    e = Engine(spark, d, cfg)
    assert all(doc not in (1, 2, 3) for doc, _ in e.search("parse http request", k=30))

    # recovery: the next delete merges from the fallback dir and restores d
    out = delete_documents(spark, d, cfg, doc_ids=[7])
    assert out["tombstones"] == 4 and out["added"] == 1
    assert os.path.isdir(tdir) and not os.path.isdir(tdir + "_old")
    assert list(tombstone_ids(d)) == [1, 2, 3, 7]

    # a stale _tmp from the crashed attempt is harmless (overwritten)
    shutil.rmtree(tdir + "_tmp", ignore_errors=True)
