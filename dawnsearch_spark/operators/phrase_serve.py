"""Phrase search served FROM the segment index.

The batch operator (operators/boolquery.py) recomputes TF from the corpus;
this is the serving twin: candidates come from the committed index's
posting lists, content is touched only for the candidate rows, and the
whole query runs driver-side (zero Spark jobs) whenever the phrase terms'
postings fit the driver budget — the same fast-path discipline as WAND
serving (operators/wand.py).

Our index stores no positions (the reference stores none either — its
index is positionless vectors, /root/reference/src/search/search_provider
.rs:35-42), so adjacency is verified on the forward index: candidates =
intersection of the phrase terms' posting doc_ids (bounded by the rarest
term's df), then re-tokenize exactly those rows. Lucene pays index bytes
for positions; we pay a candidate-bounded forward-index read — at 100 TB
the candidate read is row-group-pruned by doc_id, and when candidates
exceed the driver cap the adjacency pass runs distributed over an
IN-pruned scan.

Scoring is PhraseQuery-style single-synthetic-term BM25 (tf = phrase
occurrences, df = matching docs) with the index's committed corpus stats,
identical to the batch operator — both answer the same SQL oracle.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.functions.bm25 import bm25_np, idf_np
from dawnsearch_spark.functions.tokenizer import tokenize_flat_arrow, tokenize_py
from dawnsearch_spark.index_build import (
    IndexPaths,
    gen_ids_with_rows,
    load_stats,
    read_segments,
    segment_generations,
)
from dawnsearch_spark.operators.boolquery import (
    _near_hits_flat,
    _phrase_hits_flat,
)
from dawnsearch_spark.operators.forward_reader import read_forward_rows
from dawnsearch_spark.operators.wand import (
    _decode_row_docs,
    _term_bucket,
)


# posting-row columns the doc-list decodes need (no tf/dl blobs)
_DOC_COLS = ["term", "range_id", "n_docs", "doc_blob"]


def _term_doc_ids(rows: list[dict]) -> dict[str, np.ndarray]:
    """Sorted doc ids per term, decoded on the driver from pruned segment
    rows. A term's ranges and generations hold disjoint doc sets, so the
    concatenation of its rows has no duplicates."""
    by_term: dict[str, list[np.ndarray]] = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(
            _decode_row_docs(
                {"doc_blob": bytes(r["doc_blob"]), "n_docs": int(r["n_docs"])}
            )
        )
    return {t: np.sort(np.concatenate(v)) for t, v in by_term.items()}


def _intersect_rarest_first(doc_lists) -> np.ndarray:
    """Successive sorted-array intersection, shortest list first."""
    lists = sorted(doc_lists, key=len)
    if not lists:
        return np.zeros(0, np.int64)
    out = lists[0]
    for d in lists[1:]:
        out = out[np.isin(out, d, assume_unique=True)]
        if not len(out):
            break
    return out


def _drop_tombstoned(doc_ids: np.ndarray, tombstones) -> np.ndarray:
    if tombstones is None or not len(doc_ids):
        return doc_ids
    from dawnsearch_spark.operators.merge import _tombstone_mask

    return doc_ids[_tombstone_mask(doc_ids, tombstones)]


def _decode_docs_gen(batches):
    """mapInPandas body: one (doc_id, term) row per posting."""
    for pdf in batches:
        for i in range(len(pdf)):
            docs = _decode_row_docs(
                {
                    "doc_blob": bytes(pdf["doc_blob"].iloc[i]),
                    "n_docs": int(pdf["n_docs"].iloc[i]),
                }
            )
            yield pd.DataFrame({"doc_id": docs, "term": pdf["term"].iloc[i]})


def _posting_docs(seg_df: DataFrame, buckets: list[int], terms: list[str]) -> DataFrame:
    """(doc_id, term) for every posting of the query terms, decoded in
    tasks — the distributed twin of :func:`_term_doc_ids`."""
    return (
        seg_df.filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
        .select(*_DOC_COLS)
        .mapInPandas(_decode_docs_gen, "doc_id long, term string")
    )


def _score_matches(
    doc_ids: np.ndarray,
    ptf: np.ndarray,
    dl: np.ndarray,
    n_docs: float,
    avgdl: float,
    cfg: EngineConfig,
    k: int,
) -> list[tuple[int, int, float]]:
    """(doc_id, phrase_tf, score) top-k, deterministic tie-break."""
    m = ptf > 0
    doc_ids, ptf, dl = doc_ids[m], ptf[m], dl[m]
    if not len(doc_ids):
        return []
    idf = float(idf_np(float(len(doc_ids)), n_docs))
    scores = bm25_np(ptf, dl, idf, avgdl, cfg.k1, cfg.b)
    order = np.lexsort((doc_ids, -scores))[:k]
    return [
        (int(doc_ids[i]), int(ptf[i]), float(scores[i])) for i in order
    ]


def search_phrase_index(
    spark: SparkSession,
    index_root: str,
    phrase: str,
    cfg: EngineConfig,
    **kw,
) -> list[tuple[int, int, float]]:
    """Exact-phrase top-k from the index: [(doc_id, phrase_tf, score)].

    Fast path (phrase postings within ``cfg.max_driver_postings`` AND
    candidates within ``cfg.max_driver_phrase_docs``): posting doc_ids
    decode on the driver via the zero-job pyarrow segment read, intersect
    with sorted-array merges, and the candidate contents come from ONE
    pyarrow read of the forward index filtered to the candidate ids —
    zero Spark jobs end to end. Otherwise the same plan runs distributed:
    postings decode in ``mapInPandas`` (shuffle = query-term postings
    only) and adjacency runs over an id-pruned document scan.
    """
    terms = tokenize_py(phrase)
    if not terms:
        return []
    return positional_search_index(
        spark, index_root, terms,
        lambda flat, seg, n: _phrase_hits_flat(flat, seg, n, terms), cfg, **kw,
    )


def search_near_index(
    spark: SparkSession,
    index_root: str,
    term_a: str,
    term_b: str,
    window: int,
    cfg: EngineConfig,
    **kw,
) -> list[tuple[int, int, float]]:
    """NEAR/n proximity top-k from the index: [(doc_id, prox_tf, score)].
    Same candidate/verification/scoring plan as phrase serving — only the
    per-doc position matcher differs (unordered within-window count)."""
    ta = tokenize_py(term_a)
    tb = tokenize_py(term_b)
    if len(ta) != 1 or len(tb) != 1:
        return []
    a, b = ta[0], tb[0]
    return positional_search_index(
        spark, index_root, [a, b],
        lambda flat, seg, n: _near_hits_flat(flat, seg, n, a, b, window),
        cfg, **kw,
    )


def count_matches_index(
    spark: SparkSession,
    index_root: str,
    query: str,
    cfg: EngineConfig,
    mode: str = "or",
    segments: Callable[[], DataFrame] | None = None,
    counters: dict | None = None,
    tombstones: np.ndarray | None = None,
) -> int:
    """Total-hit count from postings only (Lucene TotalHitCountCollector):
    how many live docs match the query under OR or AND semantics. No
    content is read and nothing scores — doc_ids decode on the driver
    when the query terms' postings fit the budget (zero Spark jobs),
    union/intersection by sorted-array merges; above the budget the
    count runs distributed over the pruned posting rows."""
    assert mode in ("or", "and")
    ctr = counters if counters is not None else {}
    paths = IndexPaths(index_root)
    terms = sorted(set(tokenize_py(query)))
    if not terms:
        return 0
    if tombstones is not None and not len(tombstones):
        tombstones = None

    from dawnsearch_spark.operators.segment_reader import read_segment_rows

    buckets = sorted({_term_bucket(t, cfg.num_term_buckets) for t in terms})
    gens = gen_ids_with_rows(segment_generations(index_root))
    rows = read_segment_rows(
        paths.segments, buckets, terms, columns=_DOC_COLS, gens=gens
    )
    if sum(int(r["n_docs"]) for r in rows) <= cfg.max_driver_postings:
        ctr["path"] = "driver"
        docs_by_term = _term_doc_ids(rows)
        if not docs_by_term or (mode == "and" and len(docs_by_term) < len(terms)):
            return 0  # nothing matches / a term matches nothing
        if mode == "or":
            out = np.unique(np.concatenate(list(docs_by_term.values())))
        else:
            out = _intersect_rarest_first(docs_by_term.values())
        return int(len(_drop_tombstoned(out, tombstones)))

    # distributed: decode query-term postings in tasks, count in Spark
    ctr["path"] = "distributed"
    sdf = segments() if segments is not None else read_segments(spark, index_root)
    pdocs = _posting_docs(sdf, buckets, terms)
    if tombstones is not None:
        tomb_df = spark.createDataFrame(
            [(int(d),) for d in np.asarray(tombstones)], "doc_id long"
        )
        pdocs = pdocs.join(F.broadcast(tomb_df), "doc_id", "left_anti")
    if mode == "or":
        matched = pdocs.select("doc_id").distinct()
    else:
        matched = (
            pdocs.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_nt"))
            .filter(F.col("_nt") == len(terms))
        )
    return int(matched.count())


def positional_search_index(
    spark: SparkSession,
    index_root: str,
    match_terms: list[str],
    matcher,
    cfg: EngineConfig,
    k: int | None = None,
    segments: Callable[[], DataFrame] | None = None,
    stats=None,
    counters: dict | None = None,
    meta_by_term=None,
    tombstones: np.ndarray | None = None,
    documents: Callable[[], DataFrame] | None = None,
) -> list[tuple[int, int, float]]:
    """Generic positional query over the index: candidates must contain
    every distinct term in ``match_terms``; ``matcher(flat, seg, n_docs)
    -> int64[n_docs]`` counts the positional matches per candidate doc in
    ONE vectorized pass over a flattened token batch (phrase adjacency,
    NEAR windows, ...); matches score as one synthetic BM25 term."""
    ctr = counters if counters is not None else {}
    ctr.update({"path": None, "candidates": 0, "phrase_df": 0})
    k = k or cfg.top_k
    paths = IndexPaths(index_root)
    stats = stats if stats is not None else load_stats(index_root)
    terms = list(match_terms)
    if not terms:
        return []
    uniq = sorted(set(terms))
    ctr["terms"] = len(uniq)
    if tombstones is not None and not len(tombstones):
        tombstones = None

    from dawnsearch_spark.operators.segment_reader import (
        META_COLUMNS,
        read_segment_rows,
    )

    buckets = sorted({_term_bucket(t, cfg.num_term_buckets) for t in uniq})
    gens = gen_ids_with_rows(segment_generations(index_root))

    # metadata plan: per-term df from the term dictionary / meta rows
    if meta_by_term is not None:
        meta = [m for t in uniq for m in meta_by_term.get(t, ())]
    else:
        meta = read_segment_rows(
            paths.segments, buckets, uniq, columns=META_COLUMNS, gens=gens
        )
    term_df: dict[str, int] = {}
    for r in meta:
        term_df[r["term"]] = term_df.get(r["term"], 0) + int(r["n_docs"])
    if any(t not in term_df for t in uniq):
        ctr["path"] = "missing_term"
        return []  # a phrase term absent from the corpus: no match possible
    total_postings = sum(term_df.values())

    content_col = cfg.content_col

    cand: np.ndarray | None = None
    if total_postings <= cfg.max_driver_postings:
        ctr["path"] = "driver"
        ctr["driver_postings_decoded"] = total_postings
        docs_by_term = _term_doc_ids(
            read_segment_rows(
                paths.segments, buckets, uniq, columns=_DOC_COLS, gens=gens
            )
        )
        cand = _drop_tombstoned(
            _intersect_rarest_first(docs_by_term.values()), tombstones
        )
        ctr["candidates"] = int(len(cand))
        if not len(cand):
            return []

    if cand is not None and len(cand) <= cfg.max_driver_phrase_docs:
        # zero-job adjacency over the candidates' forward-index rows
        tbl = read_forward_rows(paths.documents, cand, ["doc_id", content_col])
        flat, seg, dl = tokenize_flat_arrow(tbl.column(content_col))
        ptf = matcher(flat, seg, len(dl))
        out = _score_matches(
            tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64),
            ptf, dl,
            float(stats.n_docs), stats.avgdl, cfg, k,
        )
        ctr["phrase_df"] = int((ptf > 0).sum())
        return out

    # ---- distributed branch: candidates (or their excess) in Spark ----
    ctr["path"] = "distributed"
    docs_rel = (
        documents() if documents is not None else spark.read.parquet(paths.documents)
    )
    if cand is None:
        sdf = segments() if segments is not None else read_segments(spark, index_root)
        posting_docs = _posting_docs(sdf, buckets, uniq)
        cand_df = (
            posting_docs.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_nt"))
            .filter(F.col("_nt") == len(uniq))
            .select("doc_id")
        )
    elif len(cand) > 0.5 * float(stats.n_docs):
        # common-common phrase: the candidate set covers most of the
        # corpus, so attaching it (broadcast of 10^5+ ids + a content
        # shuffle) costs more than just scanning every row — the matcher
        # already yields 0 for non-candidates, so the match set is
        # identical. Tombstones are dropped from the (small) matched
        # relation instead of the scan.
        cand_df = None
    else:
        # Arrow path: a driver-resident candidate set above the zero-job
        # cap can hold 10^4-10^5 ids — shipping them as pickled Row tuples
        # cost seconds per query; one Arrow batch is milliseconds
        cand_df = spark.createDataFrame(pd.DataFrame({"doc_id": cand.astype("int64")}))
    tomb_df = (
        spark.createDataFrame(
            pd.DataFrame({"doc_id": np.asarray(tombstones, np.int64)})
        )
        if tombstones is not None
        else None
    )
    if cand_df is None:
        cand_docs = docs_rel.select("doc_id", content_col)
    else:
        if tomb_df is not None:
            cand_df = cand_df.join(F.broadcast(tomb_df), "doc_id", "left_anti")
        # the forward index arrives as a handful of row-group splits;
        # spread the candidate rows so the Arrow tokenize uses the whole
        # cluster
        cand_docs = (
            docs_rel.select("doc_id", content_col)
            .join(F.broadcast(cand_df), "doc_id")
            .repartition(spark.sparkContext.defaultParallelism)
        )

    def adj_gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            flat, seg, dl = tokenize_flat_arrow(pdf[content_col])
            ptf = matcher(flat, seg, len(dl))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(np.int64),
                    "dl": dl,
                    "phrase_tf": ptf,
                }
            )

    from pyspark.storagelevel import StorageLevel

    from dawnsearch_spark.functions.bm25 import bm25_col, idf_col

    matched = cand_docs.mapInPandas(
        adj_gen, "doc_id long, dl long, phrase_tf long"
    ).filter(F.col("phrase_tf") > 0)
    if cand_df is None and tomb_df is not None:
        matched = matched.join(F.broadcast(tomb_df), "doc_id", "left_anti")
    # score + top-k stay distributed AND parallel: only k result rows ever
    # reach the driver even when the phrase matches millions of docs. The
    # narrow matched relation is persisted so the phrase-df aggregate and
    # the scoring pass run the candidate join + tokenize pipeline ONCE (a
    # global window count would also be single-pass, but it funnels the
    # whole match set plus the top-k sort through one task — exactly wrong
    # for the full-scan branch whose match set is corpus-sized).
    matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        dfp = matched.agg(F.count(F.lit(1)).cast("double").alias("_dfp"))
        top = (
            matched.crossJoin(F.broadcast(dfp))
            .withColumn(
                "score",
                bm25_col(
                    F.col("phrase_tf"),
                    F.col("dl"),
                    idf_col(F.col("_dfp"), float(stats.n_docs)),
                    stats.avgdl,
                    cfg.k1,
                    cfg.b,
                ),
            )
            .select("doc_id", "phrase_tf", "score", "_dfp")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
    finally:
        matched.unpersist()
    ctr["phrase_df"] = int(top[0]["_dfp"]) if top else 0
    return [(int(r["doc_id"]), int(r["phrase_tf"]), float(r["score"])) for r in top]
