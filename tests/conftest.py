from __future__ import annotations

import glob
import os
from dataclasses import replace

import pytest

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dawnsearch-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def cfg() -> EngineConfig:
    return EngineConfig().scaled_for_tests()


@pytest.fixture(scope="session")
def small_corpus(spark):
    """400-doc deterministic corpus with doc ids + sha, cached for the session."""
    from dawnsearch_spark.corpus import generate_corpus, with_content_sha
    from dawnsearch_spark.operators.docids import assign_doc_ids

    df = with_content_sha(generate_corpus(spark, 400, seed=42, vocab_size=2000))
    df = assign_doc_ids(df, ("repo", "path", "commit"), parts=8).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def block_max_cfg():
    """``f(cfg, index_root, query)``: ``cfg`` with a driver budget one
    posting short of the query's total (Σ df over its terms, read from the
    index's ``terms/`` dictionary), so ``search_index`` takes the
    block-max walk by its budget alone."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from dawnsearch_spark.functions.tokenizer import tokenize_py

    def f(cfg: EngineConfig, index_root: str, query) -> EngineConfig:
        terms = sorted(set(tokenize_py(query) if isinstance(query, str) else query))
        files = sorted(glob.glob(os.path.join(index_root, "terms", "*.parquet")))
        tbl = ds.dataset(files, format="parquet").to_table(
            columns=["df"], filter=ds.field("term").isin(terms)
        )
        total = int(pc.sum(tbl["df"]).as_py() or 0)
        return replace(cfg, max_driver_postings=total - 1)

    return f
