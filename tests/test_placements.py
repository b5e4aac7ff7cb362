"""Forced-path tests for the driver-vs-Spark placements of stage 1b and
stage 3.

Each placement is selected by one budget (``DRIVER_MERGE_MAX_POSTINGS``,
``DRIVER_DICT_MAX_ROWS``); the test corpora sit far below both, so the
tests zero a budget to force the Spark side and require the same index
the default (driver) side builds: equal segment rows, equal dictionary,
equal stats manifest, equal answers.
"""

from __future__ import annotations

import os
from dataclasses import replace

import pytest

import dawnsearch_spark.index_build as ib
from dawnsearch_spark.corpus import generate_corpus, with_content_sha
from dawnsearch_spark.index_build import IndexPaths, build_index, segment_generations
from dawnsearch_spark.manifest import MANIFEST_DIR, read_manifest
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.streaming.incremental import (
    append_documents,
    delete_documents,
    purge_deletes,
)

QUERIES = ["parse http request", "struct net bind listen", "fn the let"]


def _chunks(spark):
    return [
        with_content_sha(generate_corpus(spark, n, seed=11, vocab_size=1500, start=s))
        for s, n in ((0, 150), (150, 60), (210, 60))
    ]


def _spy(monkeypatch, name: str) -> list:
    calls: list = []
    real = getattr(ib, name)
    monkeypatch.setattr(ib, name, lambda *a, **k: calls.append(1) or real(*a, **k))
    return calls


def _segment_rows(spark, root: str) -> list[tuple]:
    rows = (
        spark.read.parquet(IndexPaths(root).segments)
        .drop("gen")
        .orderBy("term", "range_id")
        .collect()
    )
    return [
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in rows
    ]


def _terms(spark, root: str) -> list[tuple]:
    return sorted(
        tuple(r) for r in spark.read.parquet(IndexPaths(root).terms).collect()
    )


def _stats(root: str) -> dict:
    m = dict(read_manifest(root, "stats"))
    m.pop("committed_at")
    return m


def test_runs_shuffle_merge_identical_to_driver(spark, cfg, tmp_path, monkeypatch):
    """Runs-sourced merges over the budget (first build, appends and a
    compaction with runs retained) take the (term, salt) shuffle and must
    write the rows the driver placement writes."""
    keep_cfg = replace(cfg, max_segment_generations=2)
    chunks = _chunks(spark)
    shuffled, driver = str(tmp_path / "shuffled"), str(tmp_path / "driver")
    for root, budget in ((driver, ib.DRIVER_MERGE_MAX_POSTINGS), (shuffled, 0)):
        monkeypatch.setattr(ib, "DRIVER_MERGE_MAX_POSTINGS", budget)
        calls = _spy(monkeypatch, "_merge_shuffled")
        build_index(spark, chunks[0], root, keep_cfg, n_groups=1)
        for c in chunks[1:]:
            append_documents(spark, root, c, keep_cfg, n_groups=1)
        # build + 2 appends + 1 compaction
        assert len(calls) == (4 if budget == 0 else 0), root
        monkeypatch.undo()

    gens = segment_generations(shuffled)
    assert any(len(g["groups"]) > 1 for g in gens), "no compaction ran"
    assert [(g["gen"], g["groups"], g["rows"], g["postings"]) for g in gens] == [
        (g["gen"], g["groups"], g["rows"], g["postings"])
        for g in segment_generations(driver)
    ]
    assert _segment_rows(spark, shuffled) == _segment_rows(spark, driver)
    es, ed = Engine(spark, shuffled, keep_cfg), Engine(spark, driver, keep_cfg)
    for q in QUERIES:
        assert es.search(q) == ed.search(q), q


def test_stage1b_spark_aggregator_identical_to_pandas(spark, cfg, tmp_path, monkeypatch):
    """Every stage-1b mode — full aggregation (first build), fold (append),
    rebuild from segment rows (purge with runs GC'd) and stats recount —
    commits the same dictionary and stats under the Spark aggregator
    (budget 0) as under the pandas one (default)."""
    gc_cfg = replace(cfg, gc_runs=True)
    chunks = _chunks(spark)
    roots = {0: str(tmp_path / "spark"), ib.DRIVER_DICT_MAX_ROWS: str(tmp_path / "pandas")}
    logs = {budget: [] for budget in roots}
    steps = [
        lambda root, log: build_index(spark, chunks[0], root, gc_cfg, n_groups=2, log=log),
        lambda root, log: append_documents(spark, root, chunks[1], gc_cfg, log=log),
        lambda root, log: (
            delete_documents(spark, root, gc_cfg, doc_ids=range(0, 200, 9)),
            purge_deletes(spark, root, gc_cfg, log=log),
        ),
        lambda root, log: (
            os.remove(os.path.join(root, MANIFEST_DIR, "stats.json")),
            build_index(spark, spark.read.parquet(IndexPaths(root).documents),
                        root, gc_cfg, log=log),
        ),
    ]
    for step in steps:
        for budget, root in roots.items():
            monkeypatch.setattr(ib, "DRIVER_DICT_MAX_ROWS", budget)
            calls = _spy(monkeypatch, "_stage1b_spark")
            step(root, logs[budget].append)
            assert len(calls) == (1 if budget == 0 else 0)
            monkeypatch.undo()
        spark_root, pandas_root = roots[0], roots[ib.DRIVER_DICT_MAX_ROWS]
        assert _terms(spark, spark_root) == _terms(spark, pandas_root)
        assert _stats(spark_root) == _stats(pandas_root)
    for lines in logs.values():
        for want in ("folded into the committed dictionary",
                     "rebuilt from segment rows", "stats recount only"):
            assert any(want in m for m in lines), (want, lines)
    e1, e2 = (Engine(spark, r, gc_cfg) for r in roots.values())
    for q in QUERIES:
        assert e1.search(q) == e2.search(q), q


def test_missing_bucket_file_blocks_commit(spark, cfg, tmp_path, monkeypatch):
    """Task placement: a bucket a task reported rows for must have its
    file where the driver sees it. Executors writing to a non-shared local
    path are simulated by deleting one task-written file; the purge must
    raise before it commits the generation, and a rerun must complete."""
    gc_cfg = replace(cfg, gc_runs=True)
    d = str(tmp_path / "idx")
    build_index(spark, _chunks(spark)[0], d, gc_cfg, n_groups=1)
    delete_documents(spark, d, gc_cfg, doc_ids=[1, 2, 3])
    before = read_manifest(d, "segments")
    real = ib._merge_in_tasks

    def lose_one_file(spark_, cfg_, files, heavy, tomb, gdir):
        out = real(spark_, cfg_, files, heavy, tomb, gdir)
        b = min(b for b, (n, _) in out.items() if n)
        os.remove(os.path.join(gdir, f"bucket={b}", ib.BUCKET_FILE))
        return out

    monkeypatch.setattr(ib, "_merge_in_tasks", lose_one_file)
    monkeypatch.setattr(ib, "DRIVER_MERGE_MAX_POSTINGS", 0)
    with pytest.raises(RuntimeError, match="not visible to the driver"):
        purge_deletes(spark, d, gc_cfg)
    assert read_manifest(d, "segments") == before
    monkeypatch.undo()
    assert purge_deletes(spark, d, gc_cfg)["purged"] == 3
    got = Engine(spark, d, gc_cfg).search("parse http request", k=50)
    assert got and not {doc for doc, _ in got} & {1, 2, 3}
