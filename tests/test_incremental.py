"""Incremental append + streaming ingest: an appended index must be
rank-identical to a from-scratch build over the union corpus (the append
re-runs stats + merge; runs are reused)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dawnsearch_spark.corpus import generate_corpus, with_content_sha
from dawnsearch_spark.index_build import build_index, load_stats
from dawnsearch_spark.manifest import list_manifests
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.streaming.incremental import append_documents, stream_into_index
from conftest import search_df_rows

QUERIES = ["def import", "parse http request", "getValue", "store commit repo"]


@pytest.fixture(scope="module")
def corpora(spark):
    base = with_content_sha(generate_corpus(spark, 300, seed=42, vocab_size=2000)).cache()
    extra = with_content_sha(
        generate_corpus(spark, 100, seed=42, vocab_size=2000, start=300)
    ).cache()
    full = base.unionByName(extra).cache()
    base.count(), extra.count(), full.count()
    return base, extra, full


def test_append_matches_fresh_build(spark, cfg, corpora, tmp_path):
    base, extra, full = corpora
    inc_dir, fresh_dir = str(tmp_path / "inc"), str(tmp_path / "fresh")

    build_index(spark, base, inc_dir, cfg, n_groups=2)
    counters = append_documents(spark, inc_dir, extra, cfg, n_groups=1)
    assert counters["appended"] == 100
    assert load_stats(inc_dir).n_docs == 400

    build_index(spark, full, fresh_dir, cfg, n_groups=2)
    e_inc, e_fresh = Engine(spark, inc_dir, cfg), Engine(spark, fresh_dir, cfg)
    assert e_inc.stats_.avgdl == e_fresh.stats_.avgdl

    def keyed(engine, q):
        """[(identity_key, rounded_score)] — docIDs differ by construction:
        appends number new docs at the end (reference rowid semantics) while
        a fresh build interleaves, so ties can resolve to different docs."""
        rows = search_df_rows(engine, q)
        return [((r["repo"], r["path"], r["commit"]), round(r["score"], 9)) for r in rows]

    for q in QUERIES:
        got, want = keyed(e_inc, q), keyed(e_fresh, q)
        assert [s for _, s in got] == [s for _, s in want], f"score vector differs for {q!r}"
        if got:
            kth = got[-1][1]
            above_g = {key for key, s in got if s > kth}
            above_w = {key for key, s in want if s > kth}
            assert above_g == above_w, f"non-tied results differ for {q!r}"

    # old run groups were reused, not rebuilt
    ms = list_manifests(inc_dir)
    groups = sorted(k for k in ms if k.startswith("runs_group_"))
    assert len(groups) == 3  # 2 base + 1 appended


def test_append_dedups_existing_docs(spark, cfg, corpora, tmp_path):
    base, extra, _ = corpora
    d = str(tmp_path / "dedup")
    build_index(spark, base, d, cfg, n_groups=1)
    res = append_documents(spark, d, base, cfg)  # re-insert same docs
    assert res["appended"] == 0
    assert load_stats(d).n_docs == 300


def test_append_crash_recovery(spark, cfg, corpora, tmp_path, monkeypatch):
    """Torn-append window (ADVICE r1): rows already appended to the forward
    index, manifests not yet rewritten. The next build must ADOPT the
    appended rows (recount, never overwrite), doc_ids stay dense/unique,
    and a re-append of the same docs dedups to zero."""
    base, extra, _ = corpora
    d = str(tmp_path / "crash")
    build_index(spark, base, d, cfg, n_groups=1)

    import dawnsearch_spark.streaming.incremental as inc

    def boom(*a, **k):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(inc, "write_manifest", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        append_documents(spark, d, extra, cfg)
    monkeypatch.undo()

    ms = list_manifests(d)
    assert "documents" not in ms and "stats" not in ms  # invalidated pre-append

    build_index(spark, spark.read.parquet(d + "/documents"), d, cfg, n_groups=1)
    assert load_stats(d).n_docs == 400
    docs = spark.read.parquet(d + "/documents")
    assert docs.count() == 400
    assert docs.select("doc_id").distinct().count() == 400  # no duplicate ids
    e = Engine(spark, d, cfg)
    assert len(e.search("parse http request")) == cfg.top_k
    # the same batch appended again is fully deduped (ids never re-minted)
    res = append_documents(spark, d, extra, cfg)
    assert res["appended"] == 0 and load_stats(d).n_docs == 400


def test_engine_refresh_after_append(spark, cfg, corpora, tmp_path):
    """A live Engine refresh()es to the post-append index instead of
    reading dropped segment files (ADVICE r1)."""
    base, extra, _ = corpora
    d = str(tmp_path / "refresh")
    build_index(spark, base, d, cfg, n_groups=1)
    e = Engine(spark, d, cfg)
    assert e.stats_.n_docs == 300
    append_documents(spark, d, extra, cfg, n_groups=1)
    e.refresh()
    assert e.stats_.n_docs == 400
    hits = e.search("parse http request")
    assert len(hits) == cfg.top_k


def test_streaming_foreachbatch_append(spark, cfg, corpora, tmp_path):
    base, extra, full = corpora
    idx = str(tmp_path / "stream_idx")
    build_index(spark, base, idx, cfg, n_groups=1)

    src = str(tmp_path / "incoming")
    extra.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(extra.schema).parquet(src)
    )
    q = stream_into_index(
        stream, idx, cfg, checkpoint_dir=str(tmp_path / "ckpt"), n_groups=1
    )
    q.awaitTermination(300)
    assert load_stats(idx).n_docs == 400
    e = Engine(spark, idx, cfg)
    hits = e.search("parse http request")
    assert len(hits) == cfg.top_k
