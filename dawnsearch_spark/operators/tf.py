"""Term-frequency extraction and corpus statistics.

Reference analog: the reference never computes TF (its per-doc derived
vector is an embedding, /root/reference/src/embedding/embedding_service.rs:
126-135); per the north rule the analogous per-document derived structure is
the term-frequency bag (SURVEY.md §2.4 A6/A7).

The hot path is an Arrow-vectorized ``mapInPandas`` (input_hint: "vectorized
pandas/Arrow UDFs (no per-row Python) throughout", and the reference
likewise batches its tokenizer, embedding_service.rs:101-120): each batch
tokenizes with pyarrow kernels (``tokenize_flat_arrow``) and pre-aggregates
(doc, term) counts with one integer ``np.unique``, so the JVM only ever
shuffles compact, already-aggregated TF rows — a document lives in exactly
one Arrow batch, so no further combine is needed. (A native
explode->groupBy formulation is equivalent but pushes ~8x more short-lived
string rows through the JVM: tokenization is allocation-bound, and Python
workers are separate processes, so this formulation also scales across
executors where a JVM-side explode bottlenecks on the shared heap.)
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TF_SCHEMA = "term string, doc_id long, dl long, tf long"


@dataclass(frozen=True)
class CorpusStats:
    """BM25 global stats (SURVEY.md §2.4 A7). Exact counts — rank identity
    forbids approx_count_distinct."""

    n_docs: int
    avgdl: float
    total_tokens: int


def tf_frame(pdf: pd.DataFrame, content_col: str = "content") -> pd.DataFrame:
    """Per-batch TF extraction: (term, doc_id, dl, tf).

    Rows for a document are complete and final within its batch — a doc
    lives in exactly one Arrow batch, so no shuffle-side combine is needed.

    Arrow-kernel formulation (measured 3.6x the pandas object-dtype
    tokenize + groupby on a 10k-doc batch, identical rows): tokenize to
    one flat token stream, dictionary-encode it, and count distinct
    (term-code, doc-ordinal) keys with one integer ``np.unique`` — the
    per-(term, doc) counts ARE the term frequencies."""
    from dawnsearch_spark.functions.tokenizer import tokenize_flat_arrow

    flat, seg, dl = tokenize_flat_arrow(pdf[content_col])
    if not len(flat):
        return pd.DataFrame({"term": [], "doc_id": [], "dl": [], "tf": []})
    enc = flat.dictionary_encode()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    vocab = enc.dictionary.to_numpy(zero_copy_only=False)
    # one Arrow batch holds < 2^32 rows and < 2^31 distinct terms, so a
    # packed (code, doc-ordinal) int64 key is collision-free
    key = (codes << np.int64(32)) | seg
    uk, tf = np.unique(key, return_counts=True)
    ucode = uk >> np.int64(32)
    useg = uk & np.int64(0xFFFFFFFF)
    doc_np = pdf["doc_id"].to_numpy(np.int64)
    return pd.DataFrame(
        {
            "term": vocab[ucode],
            "doc_id": doc_np[useg],
            "dl": dl[useg],
            "tf": tf.astype(np.int64),
        }
    )


def term_frequencies(docs: DataFrame, content_col: str = "content") -> DataFrame:
    """(term, doc_id, dl, tf) — one row per distinct (doc, term).

    ``dl`` (document token length) is carried on every row so no extra join
    against a doclen table is needed downstream.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield tf_frame(pdf, content_col)

    return docs.select("doc_id", content_col).mapInPandas(gen, TF_SCHEMA)


def term_frequencies_pruned(
    docs: DataFrame, terms, content_col: str = "content"
) -> DataFrame:
    """(term, doc_id, dl, tf) rows for ONLY the given terms, plus one
    summary row per Arrow batch (term='', doc_id=-1, dl=0,
    tf=batch total tokens) so corpus totals ride in the same single
    tokenize pass. A scoring query needs exactly: its terms' postings,
    those terms' df (a count over the emitted rows), and the corpus
    token total (Σ tf over ALL terms == Σ dl per doc) — none of which
    requires shuffling or caching the full TF relation. Callers split on
    the doc_id sign."""
    tset = sorted({str(t) for t in terms})

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.compute as pc

        from dawnsearch_spark.functions.tokenizer import tokenize_flat_arrow

        tset_arr = pa.array(tset, pa.string())
        for pdf in batches:
            if not len(pdf):
                continue
            # Only the query's terms ever leave this pass, so the full
            # all-terms (term, doc, dl) groupby of tf_frame is wasted
            # work (it was ~2/3 of the batch cost on a 300-token-avg
            # corpus): tokenize once (arrow kernels), take the batch
            # token total from the per-doc lengths (Σ dl == Σ tf over
            # all terms — docs with zero tokens contribute zero either
            # way), and group only the filtered query-term instances.
            flat, seg, dl = tokenize_flat_arrow(pdf[content_col])
            total = int(dl.sum())
            if total == 0:
                continue
            hit = pc.is_in(flat, value_set=tset_arr).to_numpy(
                zero_copy_only=False
            )
            summary = pd.DataFrame(
                {"term": [""], "doc_id": [-1], "dl": [0], "tf": [total]}
            )
            if not hit.any():
                yield summary
                continue
            idx = np.flatnonzero(hit)
            ridx = seg[idx]
            kept = pd.DataFrame(
                {
                    "term": flat.take(pa.array(idx)).to_numpy(
                        zero_copy_only=False
                    ),
                    "doc_id": pdf["doc_id"].to_numpy(np.int64)[ridx],
                    "dl": dl[ridx],
                }
            )
            keep = (
                kept.groupby(["term", "doc_id", "dl"], sort=False)
                .size()
                .reset_index(name="tf")
            )
            yield pd.concat([keep, summary], ignore_index=True)

    return docs.select("doc_id", content_col).mapInPandas(gen, TF_SCHEMA)


def corpus_stats(doclens: DataFrame) -> CorpusStats:
    row = doclens.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("total"),
    ).collect()[0]
    return CorpusStats(
        n_docs=int(row["n"]),
        avgdl=float(row["avgdl"]) if row["avgdl"] is not None else 0.0,
        total_tokens=int(row["total"]) if row["total"] is not None else 0,
    )


def document_frequencies(tf: DataFrame) -> DataFrame:
    """(term, df, cf): document frequency + collection frequency per term.

    (term, doc_id) is unique in ``tf`` so df is a plain count — a hash
    aggregate with partial (map-side) combine, no distinct shuffle.
    """
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )

