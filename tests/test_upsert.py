"""Upsert-by-key lifecycle (round 6): atomic insert-or-replace.

Contract under test (``upsert_documents``):
  * every existing doc whose ``match_cols`` key (default: id_cols minus
    ``commit`` — "same repo+path, any commit") appears in the batch is
    replaced by the batch's version in ONE visible step: new rows are
    appended under staging masks (pre-placed tombstones on the incoming
    docID range), and the cutover is a single two-rename tombstone-set
    swap that simultaneously unmasks the new rows and tombstones the old
    versions;
  * a crash anywhere BEFORE the cutover leaves the OLD versions serving
    (never neither, never both); re-running the upsert — or, for masks
    that never got rows, any plain append — recovers;
  * after ``purge_deletes`` the index is score-identical to a
    from-scratch build over (old corpus − replaced + new versions).

Reference analog: URL-dedup-before-insert
(/root/reference/src/search/search_provider.rs:253-263), generalized
from drop-duplicate to replace — the reference drops re-crawled pages,
a curation pipeline must atomically re-ingest them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dawnsearch_spark.corpus import generate_corpus, with_content_sha
from dawnsearch_spark.index_build import IndexPaths, build_index
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.streaming.incremental import (
    append_documents,
    tombstone_ids,
    upsert_documents,
)
from conftest import search_df_rows

QUERIES = ["parse http request", "struct net bind listen", "fn the let"]


def _corpus(spark, n=200, seed=21, start=0):
    return with_content_sha(
        generate_corpus(spark, n, seed=seed, vocab_size=1200, start=start)
    )


def _new_versions(spark, docs_df, pred, marker="refreshed revision marker"):
    """Batch of modified versions: same (repo, path), new commit,
    content with a recognizable marker appended. localCheckpoint pins the
    rows eagerly — the input is the index's own (mutable) forward index,
    so a lazy plan would re-read rows the upsert itself appends."""
    return (
        with_content_sha(
            docs_df.filter(pred)
            .select(
                "repo", "path",
                F.concat(F.lit("v2-"), F.col("commit")).alias("commit"),
                "lang",
                F.concat(F.col("content"), F.lit(" " + marker)).alias("content"),
            )
        )
        .localCheckpoint()
    )


def _keyed(engine: Engine, q: str):
    rows = search_df_rows(engine, q)
    return [((r["repo"], r["path"], r["commit"]), round(r["score"], 9)) for r in rows]


def test_upsert_replaces_then_purge_matches_fresh_build(spark, cfg, tmp_path):
    d = str(tmp_path / "idx")
    fresh = str(tmp_path / "fresh")
    build_index(spark, _corpus(spark), d, cfg, n_groups=2)
    paths = IndexPaths(d)
    docs0 = spark.read.parquet(paths.documents)
    pred = (F.col("doc_id") % 6) == 1
    n_victims = docs0.filter(pred).count()
    batch = _new_versions(spark, docs0, pred)

    e = Engine(spark, d, cfg)
    out = e.upsert(batch)
    assert out["replaced"] == n_victims and out["appended"] == n_victims
    assert out["tombstones"] == n_victims

    # the replaced paths now serve ONLY their v2 commit (atomic cutover:
    # never the old version, never both)
    victims_keys = {
        (r["repo"], r["path"]) for r in docs0.filter(pred).collect()
    }
    for q in QUERIES:
        for (repo, path, commit), _ in _keyed(e, q):
            if (repo, path) in victims_keys:
                assert commit.startswith("v2-"), (q, repo, path, commit)

    # the marker tokens are searchable and come only from v2 rows
    hits = _keyed(e, "refreshed revision marker")
    assert hits
    assert all(commit.startswith("v2-") for (_, _, commit), _ in hits)

    # forward index holds old+new rows until purge; live set == corpus size
    n_rows = spark.read.parquet(paths.documents).count()
    assert n_rows == 200 + n_victims
    assert len(tombstone_ids(d)) == n_victims

    # after purge: score-identical to a fresh build over the patched
    # corpus (built BEFORE the purge — purge swaps the forward-index
    # files docs0 still points at)
    patched = with_content_sha(
        docs0.filter(F.col("doc_id") < 200)  # originals only: docs0 is
        .filter(~pred)  # lazy and the table has grown past it by now
        .select("repo", "path", "commit", "lang", "content")
        .unionByName(batch.select("repo", "path", "commit", "lang", "content"))
    )
    build_index(spark, patched, fresh, cfg, n_groups=2)
    e.purge()
    assert e.stats_.n_docs == 200
    e2 = Engine(spark, fresh, cfg)
    assert e.stats_.n_docs == e2.stats_.n_docs
    assert abs(e.stats_.avgdl - e2.stats_.avgdl) < 1e-12
    for q in QUERIES + ["refreshed revision marker"]:
        got, want = _keyed(e, q), _keyed(e2, q)
        assert [s for _, s in got] == [s for _, s in want], q
        assert {k for k, _ in got} == {k for k, _ in want}, q


def test_upsert_inserts_new_keys(spark, cfg, tmp_path):
    """Keys absent from the index are plain inserts (insert-or-replace)."""
    d = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 120), d, cfg, n_groups=1)
    e = Engine(spark, d, cfg)
    newbies = _corpus(spark, 30, start=500)
    out = e.upsert(newbies)
    assert out["replaced"] == 0 and out["appended"] == 30
    # insert-only upsert == plain append: stats come fully up to date
    # (staleness applies only to tombstoned replacements)
    assert e.stats_.n_docs == 150
    docs = spark.read.parquet(IndexPaths(d).documents)
    assert docs.count() == 150 and len(tombstone_ids(d)) == 0
    # idempotent: same batch again is a no-op (full keys already live)
    out2 = e.upsert(newbies)
    assert out2["replaced"] == 0 and out2["appended"] == 0
    assert docs.count() == 150


def test_upsert_crash_before_cutover_serves_old(spark, cfg, tmp_path):
    """Both pre-cutover crash points (after staging, after append) leave
    the OLD versions serving; re-running the upsert converges to the
    exact committed end state."""
    d = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 150, seed=7), d, cfg, n_groups=1)
    paths = IndexPaths(d)
    docs0 = spark.read.parquet(paths.documents)
    pred = (F.col("doc_id") % 5) == 2
    n_victims = docs0.filter(pred).count()  # BEFORE any append grows docs0
    batch = _new_versions(spark, docs0, pred)
    e = Engine(spark, d, cfg)
    before = {q: _keyed(e, q) for q in QUERIES}
    pre_keys = {
        (r["repo"], r["path"], r["commit"]) for r in docs0.collect()
    }

    for crash_at in ("stage", "append"):
        with pytest.raises(RuntimeError, match="simulated crash"):
            upsert_documents(
                spark, d, batch, cfg, _crash_after=crash_at
            )
        e.refresh()
        for q in QUERIES:
            got = _keyed(e, q)
            if crash_at == "stage":
                # nothing appended: results bit-identical
                assert got == before[q], (crash_at, q)
            else:
                # rows appended under masks: only OLD versions are ever
                # visible (scores — and thus the top-k margin — may
                # drift: masked rows enter N/avgdl/df, the same
                # staleness budget deletes carry)
                assert all(k in pre_keys for k, _ in got), (crash_at, q)
            assert not any(c.startswith("v2-") for (_, _, c), _ in got)
        # the marker is invisible pre-cutover (append landed under masks)
        assert _keyed(e, "refreshed revision marker") == [], crash_at

    # recovery: re-run completes; appended rows from the crashed attempt
    # are adopted (recovered), not duplicated
    out = upsert_documents(spark, d, batch, cfg)
    assert out["replaced"] == n_victims
    assert out["appended"] + out["recovered"] == n_victims
    assert out["recovered"] > 0  # the post-append crash left real rows
    e.refresh()
    docs = spark.read.parquet(paths.documents)
    agg = docs.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("nd")
    ).collect()[0]
    assert agg["n"] == agg["nd"] == 150 + n_victims
    for (repo, path, commit), _ in _keyed(e, "refreshed revision marker"):
        assert commit.startswith("v2-")


def test_plain_append_clears_stale_staging_masks(spark, cfg, tmp_path):
    """A crash after staging (masks placed, nothing appended) must not
    poison a later plain append: the masks point at ids >= base that the
    append is about to mint, and append_documents clears them."""
    d = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 100, seed=11), d, cfg, n_groups=1)
    batch = _new_versions(
        spark,
        spark.read.parquet(IndexPaths(d).documents),
        (F.col("doc_id") % 4) == 0,
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        upsert_documents(spark, d, batch, cfg, _crash_after="stage")
    assert len(tombstone_ids(d)) > 0  # stale staging masks on ids >= 100

    extra = _corpus(spark, 20, seed=12, start=300)
    out = append_documents(spark, d, extra, cfg)
    assert out["appended"] == 20
    assert len(tombstone_ids(d)) == 0  # masks cleared, nothing hidden
    e = Engine(spark, d, cfg)
    assert e.stats_.n_docs == 120
    # the appended docs are actually searchable (not masked)
    docs = spark.read.parquet(IndexPaths(d).documents)
    rows = docs.filter(F.col("doc_id") >= 100).select("content").collect()
    # uniq tokens appear ~1/64 tokens and may carry attached punctuation
    # in the raw text, so regex-extract a clean one from the appended docs
    # (which doc lands first in the scan depends on file layout)
    import re as _re

    tok = next(
        t
        for r in rows
        for t in _re.findall(r"uniq[0-9]+x[0-9]+", r["content"])
    )
    got = e.search(tok)
    assert got and all(doc >= 100 for doc, _ in got)
