"""Transient runs: every build sweeps the run dirs of merged groups, and
everything after a group's first merge reads the index itself.

The scale claim under test: after a group's runs are merged into a
committed generation and folded into the committed dictionary, its run
dir is redundant — retaining it would cost a second copy of the index
(~2x storage at 100 TB). So every build sweeps such dirs, and:
  * compaction and purge read the source generations' segment rows
    (identical delta+varbyte blobs), never a run dir — not even one a
    crash between commit and sweep left behind — and a compaction's rows
    equal a runs-sourced merge of the same groups BYTE for byte;
  * the stage-1b dictionary rebuild aggregates (term, n_docs, tf_sum)
    from every committed generation's segment rows.

Reference analog: the reference serves and re-saves from its single
in-RAM index file — there is no retained intermediate
(/root/reference/src/search/search_provider.rs:111-120, 173-181).
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import replace

import pytest

import dawnsearch_spark.index_build as ib
from dawnsearch_spark.corpus import generate_corpus, with_content_sha
from dawnsearch_spark.index_build import (
    IndexPaths,
    build_index,
    gc_run_dirs,
    merge_groups_to_generation,
    segment_generations,
)
from dawnsearch_spark.manifest import MANIFEST_DIR
from dawnsearch_spark.operators.oracle import bm25_exact_topk
from dawnsearch_spark.operators.tf import document_frequencies, term_frequencies
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.streaming.incremental import append_documents
from conftest import corpus_stats_of, search_df_rows

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


def _segment_rows(spark, path: str) -> list[tuple]:
    rows = spark.read.parquet(path).orderBy("term", "range_id").collect()
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


def _gen_dir(root: str, gen: int) -> str:
    return os.path.join(IndexPaths(root).segments, f"gen={gen}")


def test_gc_compaction_byte_identical_to_runs_path(spark, cfg, tmp_path, monkeypatch):
    """build -> append -> append + compaction (sourced from segment rows)
    sweeps every run dir, and the compacted generation's rows are
    byte-identical to a runs-sourced merge of the same groups, made on a
    second index whose sweeps were disabled."""
    c2 = replace(cfg, max_segment_generations=2)
    a, b = str(tmp_path / "swept"), str(tmp_path / "kept")
    chunks = _chunks(spark)
    _build_appended(spark, a, c2, chunks)
    monkeypatch.setattr(ib, "gc_run_dirs", lambda *args, **kw: [])
    _build_appended(spark, b, c2, chunks)
    monkeypatch.undo()

    gens_a, gens_b = segment_generations(a), segment_generations(b)
    (comp,) = [g for g in gens_a if len(g["groups"]) > 1]
    assert [(g["gen"], g["groups"]) for g in gens_a] == [
        (g["gen"], g["groups"]) for g in gens_b
    ]
    assert _run_group_dirs(a) == [], "every build must sweep merged groups"
    assert _run_group_dirs(b) == ["group=0", "group=1", "group=2"]

    # a real runs-sourced merge of the compacted groups, under the same
    # dictionary, into a fresh generation of the kept index
    runs_gen = max(int(g["gen"]) for g in gens_b) + 1
    merge_groups_to_generation(
        spark, IndexPaths(b), c2, comp["groups"], runs_gen, source_gens=None
    )
    assert _segment_rows(spark, _gen_dir(a, comp["gen"])) == _segment_rows(
        spark, _gen_dir(b, runs_gen)
    ), "segment-sourced compaction must be byte-identical to runs-sourced"

    ea, eb = Engine(spark, a, c2), Engine(spark, b, c2)
    for q in QUERIES:
        assert ea.search(q) == eb.search(q), q


def test_compaction_ignores_run_dirs_left_by_a_crash(spark, cfg, tmp_path, monkeypatch):
    """A crash between a segments commit and its sweep leaves the run
    dir of a committed group; here the build and the first append both
    "crash" there. The next append's compaction takes such groups, and
    must read the taken generations' segment rows, never the leftover
    run dirs; that append's own sweep then reclaims every leftover, and
    answers match the exact oracle."""
    c2 = replace(cfg, max_segment_generations=2)
    d = str(tmp_path / "idx")
    chunks = _chunks(spark)
    monkeypatch.setattr(ib, "gc_run_dirs", lambda *args, **kw: [])
    build_index(spark, chunks[0], d, c2, n_groups=1)
    append_documents(spark, d, chunks[1], c2, n_groups=1)
    monkeypatch.undo()
    assert _run_group_dirs(d) == ["group=0", "group=1"]

    runs = IndexPaths(d).runs
    reads, sources = [], []
    real_read, real_source = ib._pa_read, ib._merge_source

    def pa_read(path_or_files, *args, **kw):
        paths = [path_or_files] if isinstance(path_or_files, str) else path_or_files
        reads.extend(p for p in paths if p.startswith(runs + os.sep))
        return real_read(path_or_files, *args, **kw)

    def merge_source(paths, group_ids, source_gens):
        files = real_source(paths, group_ids, source_gens)
        sources.append((sorted(group_ids), source_gens is None, files))
        return files

    monkeypatch.setattr(ib, "_pa_read", pa_read)
    monkeypatch.setattr(ib, "_merge_source", merge_source)
    logs: list[str] = []
    append_documents(spark, d, chunks[2], c2, n_groups=1, log=logs.append)
    monkeypatch.undo()

    (comp,) = [g for g in segment_generations(d) if len(g["groups"]) > 1]
    assert {0, 1} & set(comp["groups"]), "the compaction must take a leftover's group"
    (first, compaction) = sources
    assert first[:2] == ([2], True)
    assert compaction[:2] == (sorted(comp["groups"]), False)
    assert compaction[2] and not any(f.startswith(runs + os.sep) for f in compaction[2])
    # the only run files this append read are its own new group's
    group2 = os.path.join(runs, "group=2")
    assert reads and all(p.startswith(group2) for p in reads), reads
    assert _run_group_dirs(d) == []
    assert any(m.startswith("stage3 swept run dirs") for m in logs), logs

    documents = spark.read.parquet(IndexPaths(d).documents)
    tf = term_frequencies(documents)
    stats, dfs = corpus_stats_of(documents), document_frequencies(tf)
    e = Engine(spark, d, c2)
    for q in QUERIES:
        want = [(r["doc_id"], r["score"]) for r in bm25_exact_topk(tf, dfs, stats, q, c2).collect()]
        got = e.search(q)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), q


def test_dictionary_fallback_rebuilds_from_segments(spark, cfg, tmp_path):
    """With runs swept, losing the terms dictionary (manifest + parquet)
    must not strand the index: the stage-1b fallback re-aggregates
    df/cf from segment rows and the rebuilt dictionary equals the
    incremental one exactly."""
    c4 = replace(cfg, max_segment_generations=4)
    d = str(tmp_path / "idx")
    chunks = _chunks(spark)
    _build_appended(spark, d, c4, chunks)
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
    build_index(spark, spark.read.parquet(paths.documents), d, c4, log=logs.append)
    assert any("rebuilt from segment rows" in m for m in logs), logs
    got = {
        (r["term"], r["df"], r["cf"], r["heavy"])
        for r in spark.read.parquet(paths.terms).collect()
    }
    assert got == want
    # and the index still serves
    e = Engine(spark, d, c4)
    assert e.search("parse http request")


def test_gc_run_dirs_spares_unmerged_groups(spark, cfg, tmp_path, monkeypatch):
    """gc_run_dirs only reclaims groups covered by BOTH the committed
    dictionary and a committed generation. A build sweeps its own merged
    groups, so a manual call after it reclaims nothing. An append stopped
    before stage 3 has folded its group into the dictionary but merged it
    nowhere: its run dir survives a manual call, and the resumed build
    merges it and then sweeps it."""
    d = str(tmp_path / "idx")
    chunks = _chunks(spark)
    build_index(spark, chunks[0], d, cfg, n_groups=2)
    assert _run_group_dirs(d) == []
    assert gc_run_dirs(d) == []

    def stop(*args, **kw):
        raise RuntimeError("stopped before stage 3")

    monkeypatch.setattr(ib, "merge_groups_to_generation", stop)
    with pytest.raises(RuntimeError, match="before stage 3"):
        append_documents(spark, d, chunks[1], cfg, n_groups=1)
    monkeypatch.undo()
    assert _run_group_dirs(d) == ["group=2"]
    assert gc_run_dirs(d) == []
    assert _run_group_dirs(d) == ["group=2"]

    logs: list[str] = []
    build_index(spark, spark.read.parquet(IndexPaths(d).documents), d, cfg, log=logs.append)
    assert [g["groups"] for g in segment_generations(d)] == [[0, 1], [2]]
    assert _run_group_dirs(d) == []
    assert any(m.startswith("stage3 swept run dirs") for m in logs), logs
    e = Engine(spark, d, cfg)
    assert e.search("parse http request")


def _terms(spark, root: str) -> list[tuple]:
    return sorted(
        (r["term"], r["df"], r["cf"], r["heavy"], r["bucket"])
        for r in spark.read.parquet(IndexPaths(root).terms).collect()
    )


def _keyed(engine: Engine, q: str) -> list[tuple]:
    rows = search_df_rows(engine, q)
    return [((r["repo"], r["path"], r["commit"]), round(r["score"], 9)) for r in rows]


def test_purge_placements_identical_and_match_fresh_build(
    spark, cfg, tmp_path, monkeypatch
):
    """A segment-sourced purge merge under both placements —
    one Spark task per bucket (budget 0) and driver threads (default) —
    must emit row-identical segments, tombstones included, and both must
    serve like a fresh build over the surviving docs."""
    from dawnsearch_spark.streaming.incremental import (
        delete_documents,
        purge_deletes,
    )

    c2 = replace(cfg, max_segment_generations=2)
    chunks = _chunks(spark)
    tasks, driver, fresh = (str(tmp_path / n) for n in ("tasks", "driver", "fresh"))
    for root in (tasks, driver):
        _build_appended(spark, root, c2, chunks)

    dels = list(range(0, 270, 7))
    task_merges = []
    real = ib._merge_in_tasks
    monkeypatch.setattr(
        ib, "_merge_in_tasks", lambda *a, **k: task_merges.append(1) or real(*a, **k)
    )
    delete_documents(spark, driver, c2, doc_ids=dels)
    purge_deletes(spark, driver, c2)
    assert task_merges == []
    monkeypatch.setattr(ib, "DRIVER_MERGE_MAX_POSTINGS", 0)
    delete_documents(spark, tasks, c2, doc_ids=dels)
    purge_deletes(spark, tasks, c2)
    assert task_merges == [1], "budget 0 must place the purge merge in tasks"
    monkeypatch.undo()

    assert _segment_rows(spark, IndexPaths(tasks).segments) == _segment_rows(
        spark, IndexPaths(driver).segments
    ), "task placement must be row-identical to driver placement"
    surv = spark.read.parquet(IndexPaths(driver).documents).select(
        "repo", "path", "commit", "lang", "content"
    )
    build_index(spark, with_content_sha(surv), fresh, c2, n_groups=1)
    assert _terms(spark, tasks) == _terms(spark, driver) == _terms(spark, fresh)
    engines = [Engine(spark, r, c2) for r in (tasks, driver, fresh)]
    assert len({(e.stats_.n_docs, e.stats_.total_tokens) for e in engines}) == 1
    for q in QUERIES:
        et, ed, ef = engines
        assert et.search(q) == ed.search(q), q
        assert [s for _, s in _keyed(ed, q)] == [s for _, s in _keyed(ef, q)], q
