"""Index roots are local paths: every manifest-owning entry point rejects
a scheme root before it writes anything (manifests commit through ``os``,
so ``file:///x`` would land under ``./file:/x`` while Spark wrote the data
at ``/x``). Segment reads by URI, which take no index root, still work
(tests/test_serving.py::test_pyarrow_serves_file_uri)."""

from __future__ import annotations

import os

import pytest

from dawnsearch_spark.corpus import generate_corpus, with_content_sha
from dawnsearch_spark.index_build import IndexPaths, build_index
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.streaming.incremental import (
    append_documents,
    delete_documents,
    purge_deletes,
    upsert_documents,
)


def test_scheme_roots_rejected_before_any_write(spark, cfg, tmp_path, monkeypatch):
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    target = tmp_path / "idx"
    uri = "file://" + str(target)
    docs = with_content_sha(generate_corpus(spark, 5, seed=3, vocab_size=200))
    calls = {
        "IndexPaths": lambda: IndexPaths(uri),
        "build_index": lambda: build_index(spark, docs, uri, cfg),
        "append_documents": lambda: append_documents(spark, uri, docs, cfg),
        "delete_documents": lambda: delete_documents(spark, uri, cfg, doc_ids=[0]),
        "upsert_documents": lambda: upsert_documents(spark, uri, docs, cfg),
        "purge_deletes": lambda: purge_deletes(spark, uri, cfg),
        "Engine": lambda: Engine(spark, uri, cfg),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match="local-only"):
            call()
        assert os.listdir(cwd) == [], name
        assert not target.exists(), name
