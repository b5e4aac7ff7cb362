"""runs/ garbage collection + compaction sourced from segment rows
(VERDICT r4 #1).

The scale claim under test: after a group's runs are merged into a
committed generation and folded into the committed dictionary, the runs
directory is redundant — retaining it forever costs a second copy of the
index (~2x storage at 100 TB). With ``cfg.gc_runs`` the dirs are
reclaimed, and everything that used to read runs/ sources from the index
itself instead:
  * compaction reinterprets segment rows as runs (identical delta+varbyte
    blobs) and must produce BYTE-IDENTICAL segments to the runs-retained
    path;
  * the stage-1b dictionary full-rebuild fallback aggregates
    (term, n_docs, tf_sum) from segment rows per generation.

Reference analog: the reference serves and re-saves from its single
in-RAM index file — there is no retained intermediate
(/root/reference/src/search/search_provider.rs:111-120, 173-181).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import replace

from dawnsearch_spark.corpus import generate_corpus, with_content_sha
from dawnsearch_spark.index_build import (
    IndexPaths,
    build_index,
    gc_run_dirs,
    segment_generations,
)
from dawnsearch_spark.manifest import MANIFEST_DIR
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.streaming.incremental import append_documents

QUERIES = ["parse http request", "struct net bind listen", "fn the let"]


def _chunks(spark):
    return [
        with_content_sha(generate_corpus(spark, n, seed=42, vocab_size=1500, start=s))
        for s, n in ((0, 150), (150, 60), (210, 60))
    ]


def _build_appended(spark, root: str, cfgx, chunks) -> None:
    build_index(spark, chunks[0], root, cfgx, n_groups=1)
    for c in chunks[1:]:
        append_documents(spark, root, c, cfgx, n_groups=1)


def _run_group_dirs(root: str) -> list[str]:
    runs = IndexPaths(root).runs
    if not os.path.isdir(runs):
        return []
    return sorted(d for d in os.listdir(runs) if d.startswith("group="))


def _segment_rows(spark, root: str) -> list[tuple]:
    rows = (
        spark.read.parquet(IndexPaths(root).segments)
        .orderBy("term", "range_id")
        .collect()
    )
    return [
        (
            r["term"],
            int(r["range_id"]),
            int(r["n_docs"]),
            int(r["tf_sum"]),
            bytes(r["doc_blob"]),
            bytes(r["tf_blob"]),
            bytes(r["dl_blob"]),
            list(r["block_last"]),
            list(r["front_tf"]),
            list(r["front_dl"]),
            int(r["max_tf"]),
            int(r["min_dl"]),
        )
        for r in rows
    ]


def test_gc_compaction_byte_identical_to_runs_path(spark, cfg, tmp_path):
    """build -> GC runs -> append -> compaction (sourced from segment
    rows) -> search: the segments must be byte-identical to the
    runs-retained index, runs/ must be empty, and queries must agree."""
    gc_cfg = replace(cfg, max_segment_generations=2, gc_runs=True)
    keep_cfg = replace(gc_cfg, gc_runs=False)
    a, b = str(tmp_path / "gc"), str(tmp_path / "keep")
    chunks = _chunks(spark)
    _build_appended(spark, a, gc_cfg, chunks)
    _build_appended(spark, b, keep_cfg, chunks)

    # the 2nd append exceeded max_segment_generations=2 -> compaction ran,
    # and on the GC index its input groups' run dirs were already gone
    gens_a, gens_b = segment_generations(a), segment_generations(b)
    assert any(len(g["groups"]) > 1 for g in gens_a), gens_a
    assert [(g["gen"], g["groups"]) for g in gens_a] == [
        (g["gen"], g["groups"]) for g in gens_b
    ]
    assert _run_group_dirs(a) == [], "gc_runs must reclaim every merged group"
    assert _run_group_dirs(b) == ["group=0", "group=1", "group=2"]

    assert _segment_rows(spark, a) == _segment_rows(spark, b), (
        "segment-sourced compaction must be byte-identical to runs-sourced"
    )

    ea, eb = Engine(spark, a, gc_cfg), Engine(spark, b, keep_cfg)
    for q in QUERIES:
        assert ea.search(q) == eb.search(q), q


def test_dictionary_fallback_rebuilds_from_segments(spark, cfg, tmp_path):
    """With runs GC'd, losing the terms dictionary (manifest + parquet)
    must not strand the index: the stage-1b fallback re-aggregates
    df/cf from segment rows and the rebuilt dictionary equals the
    incremental one exactly."""
    gc_cfg = replace(cfg, max_segment_generations=4, gc_runs=True)
    d = str(tmp_path / "idx")
    chunks = _chunks(spark)
    _build_appended(spark, d, gc_cfg, chunks)
    assert _run_group_dirs(d) == []
    paths = IndexPaths(d)
    want = {
        (r["term"], r["df"], r["cf"], r["heavy"])
        for r in spark.read.parquet(paths.terms).collect()
    }

    # simulate dictionary loss: terms parquet + terms/stats manifests gone
    shutil.rmtree(paths.terms)
    for name in ("terms", "stats"):
        os.remove(os.path.join(d, MANIFEST_DIR, f"{name}.json"))
    logs: list[str] = []
    build_index(spark, spark.read.parquet(paths.documents), d, gc_cfg, log=logs.append)
    assert any("rebuilt from segment rows" in m for m in logs), logs
    got = {
        (r["term"], r["df"], r["cf"], r["heavy"])
        for r in spark.read.parquet(paths.terms).collect()
    }
    assert got == want
    # and the index still serves
    e = Engine(spark, d, gc_cfg)
    assert e.search("parse http request")


def test_gc_run_dirs_spares_unmerged_groups(spark, cfg, tmp_path):
    """gc_run_dirs only reclaims groups covered by BOTH the committed
    dictionary and a committed generation — a manually-invoked GC on a
    healthy index is a no-op for nothing and safe to repeat."""
    d = str(tmp_path / "idx")
    build_index(spark, _chunks(spark)[0], d, cfg, n_groups=2)
    swept = gc_run_dirs(d)
    assert sorted(swept) == [0, 1]
    assert _run_group_dirs(d) == []
    assert gc_run_dirs(d) == []  # idempotent
    # search still green after manual GC
    e = Engine(spark, d, cfg)
    assert e.search("parse http request")


def _terms(spark, root: str) -> list[tuple]:
    return sorted(
        (r["term"], r["df"], r["cf"], r["heavy"], r["bucket"])
        for r in spark.read.parquet(IndexPaths(root).terms).collect()
    )


def _keyed(engine: Engine, q: str) -> list[tuple]:
    rows = engine.search_df(q).select("repo", "path", "commit", "score").collect()
    return [((r["repo"], r["path"], r["commit"]), round(r["score"], 9)) for r in rows]


def test_purge_placements_identical_and_match_fresh_build(
    spark, cfg, tmp_path, monkeypatch
):
    """A segment-sourced purge merge (runs GC'd) under both placements —
    one Spark task per bucket (budget 0) and driver threads (default) —
    must emit row-identical segments, tombstones included, and both must
    serve like a fresh build over the surviving docs."""
    import dawnsearch_spark.index_build as ib
    from dawnsearch_spark.streaming.incremental import (
        delete_documents,
        purge_deletes,
    )

    gc_cfg = replace(cfg, max_segment_generations=2, gc_runs=True)
    chunks = _chunks(spark)
    tasks, driver, fresh = (str(tmp_path / n) for n in ("tasks", "driver", "fresh"))
    for root in (tasks, driver):
        _build_appended(spark, root, gc_cfg, chunks)

    dels = list(range(0, 270, 7))
    task_merges = []
    real = ib._merge_in_tasks
    monkeypatch.setattr(
        ib, "_merge_in_tasks", lambda *a, **k: task_merges.append(1) or real(*a, **k)
    )
    delete_documents(spark, driver, gc_cfg, doc_ids=dels)
    purge_deletes(spark, driver, gc_cfg)
    assert task_merges == []
    monkeypatch.setattr(ib, "DRIVER_MERGE_MAX_POSTINGS", 0)
    delete_documents(spark, tasks, gc_cfg, doc_ids=dels)
    purge_deletes(spark, tasks, gc_cfg)
    assert task_merges == [1], "budget 0 must place the purge merge in tasks"
    monkeypatch.undo()

    assert _segment_rows(spark, tasks) == _segment_rows(spark, driver), (
        "task placement must be row-identical to driver placement"
    )
    surv = spark.read.parquet(IndexPaths(driver).documents).select(
        "repo", "path", "commit", "lang", "content"
    )
    build_index(spark, with_content_sha(surv), fresh, gc_cfg, n_groups=1)
    assert _terms(spark, tasks) == _terms(spark, driver) == _terms(spark, fresh)
    engines = [Engine(spark, r, gc_cfg) for r in (tasks, driver, fresh)]
    assert len({(e.stats_.n_docs, e.stats_.total_tokens) for e in engines}) == 1
    for q in QUERIES:
        et, ed, ef = engines
        assert et.search(q) == ed.search(q), q
        assert [s for _, s in _keyed(ed, q)] == [s for _, s in _keyed(ef, q)], q
