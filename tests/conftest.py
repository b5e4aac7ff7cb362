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


def corpus_stats_of(docs, content_col: str = "content"):
    """Exact BM25 corpus stats of ``docs`` from JVM token counts
    (``size(tokens_col(...))``, as ``q_doclen_stats`` computes them). Null
    content counts 0 tokens: it is replaced by "" before tokenizing, since
    ``size(null)`` is -1 under legacy semantics."""
    from pyspark.sql import functions as F

    from dawnsearch_spark.functions.tokenizer import tokens_col
    from dawnsearch_spark.operators.tf import corpus_stats

    content = F.coalesce(F.col(content_col), F.lit(""))
    return corpus_stats(docs.select(F.size(tokens_col(content)).cast("long").alias("dl")))


def hydrate_topk(topk, documents, cfg, doc_ids=None):
    """Reference hydration, all in Spark: (doc_id, score) rows joined onto
    the documents relation, sha256 and snippet from Spark's ``sha2`` and
    ``substring``, ranked by score desc, doc_id asc. ``Engine.search_df``
    must return exactly these rows, in this order, with this schema."""
    from pyspark.sql import functions as F

    cols = [c for c in ("repo", "path", "commit", "lang") if c in documents.columns]
    sel = documents.select(
        "doc_id",
        *cols,
        cfg.content_col,
        *(["content_sha"] if "content_sha" in documents.columns else []),
    )
    if doc_ids is not None:
        sel = sel.filter(F.col("doc_id").isin([int(d) for d in doc_ids]))
    out = sel.join(F.broadcast(topk), "doc_id", "inner")
    if "content_sha" in documents.columns:
        out = out.withColumn(
            "sha_ok", F.sha2(F.col(cfg.content_col), 256) == F.col("content_sha")
        )
    out = out.withColumn(
        "snippet", F.substring(F.col(cfg.content_col), 1, cfg.snippet_len)
    ).drop(cfg.content_col)
    return out.orderBy(F.desc("score"), F.asc("doc_id"))


def search_df_rows(engine, query) -> list:
    """``engine.search_df(query)`` collected, after asserting that its rows,
    their order and its schema equal the reference join's over the same
    hits and the engine's documents relation."""
    df = engine.search_df(query)
    hits = engine.search(query)
    topk = engine.spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits] or [], "doc_id long, score double"
    )
    ref = hydrate_topk(topk, engine.documents(), engine.cfg, [d for d, _ in hits])
    assert df.schema == ref.schema, (df.schema, ref.schema)
    rows = df.collect()
    assert [r.asDict() for r in rows] == [r.asDict() for r in ref.collect()], query
    return rows
