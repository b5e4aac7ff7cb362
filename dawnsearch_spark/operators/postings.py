"""Stage-2 posting-run construction: documents -> packed, salt-free runs.

Reference analog: the segment writer that turns an input slice into packed
fixed-width entries + side payload files
(/root/reference/src/index/warc.rs:45-125); one run row here = one term's
docID-sorted, delta+varbyte-packed postings for one Arrow batch of one
build group.

Runs carry no layout decision: whether a term is served as one light row
or range-split into (term, doc_id // range_size) rows is decided at merge
time, from the exact term dictionary (``index_build._merge_bucket``). A
run row is just a term's disjoint postings, so the merge kernel combines a
term's rows in any grouping — including older runs on disk that still
carry a ``salt`` column, which the merge ignores.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

RUN_SCHEMA = (
    "term string, n_docs long, tf_sum long, "
    "doc_blob binary, tf_blob binary, dl_blob binary"
)


def _pack_complete(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pack a frame of (term, doc_id, tf, dl) postings sorted by
    (term, doc_id): one run row per term.

    Batched: the whole frame's gap/tf/dl streams are varbyte-encoded in ONE
    call each, then sliced per group by byte offset — a code corpus has
    millions of singleton-term groups, so per-group encode calls would be
    ~50x slower (NumPy fixed overhead)."""
    from dawnsearch_spark.functions.codec import varbyte_encode_with_sizes

    n = len(pdf)
    term = pdf["term"].to_numpy()
    docs = pdf["doc_id"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.int64)
    dls = pdf["dl"].to_numpy(np.int64)
    change = np.flatnonzero(term[1:] != term[:-1]) + 1
    bounds = np.concatenate(([0], change, [n]))
    starts = bounds[:-1]

    # per-group delta encoding, vectorized across groups: the first posting
    # of each group stores its absolute docID, the rest store gaps
    gaps = np.empty(n, np.uint64)
    gaps[1:] = (docs[1:] - docs[:-1]).astype(np.uint64)
    gaps[starts] = docs[starts].astype(np.uint64)

    doc_all, nb_d = varbyte_encode_with_sizes(gaps)
    tf_all, nb_t = varbyte_encode_with_sizes(tfs.astype(np.uint64))
    dl_all, nb_l = varbyte_encode_with_sizes(dls.astype(np.uint64))

    def group_offsets(nb: np.ndarray) -> np.ndarray:
        c = np.zeros(n + 1, np.int64)
        np.cumsum(nb, out=c[1:])
        return c[bounds]

    od, ot, ol = group_offsets(nb_d), group_offsets(nb_t), group_offsets(nb_l)
    g = len(starts)
    # per-run collection-frequency partial: lets the term dictionary be
    # derived from run METADATA instead of a second corpus tokenize pass
    tf_sums = np.add.reduceat(tfs, starts)
    return pd.DataFrame(
        {
            "term": term[starts],
            "n_docs": (bounds[1:] - starts).astype(np.int64),
            "tf_sum": tf_sums.astype(np.int64),
            "doc_blob": [doc_all[od[i] : od[i + 1]] for i in range(g)],
            "tf_blob": [tf_all[ot[i] : ot[i + 1]] for i in range(g)],
            "dl_blob": [dl_all[ol[i] : ol[i + 1]] for i in range(g)],
        }
    )


def build_posting_miniruns(docs: DataFrame, content_col: str = "content") -> DataFrame:
    """Documents -> packed posting mini-runs, entirely inside one Arrow
    stage: tokenize + TF + docID-sorted varbyte pack per batch.

    This is the build hot path: the JVM never materializes per-posting
    rows — it only writes compact blob rows (one per (term, batch)),
    which the stage-3 merge combines into final posting lists."""
    from dawnsearch_spark.operators.tf import tf_frame

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            tf = tf_frame(pdf, content_col)
            if not len(tf):
                continue
            yield _pack_complete(tf.sort_values(["term", "doc_id"], ignore_index=True))

    return docs.select("doc_id", content_col).mapInPandas(gen, RUN_SCHEMA)
