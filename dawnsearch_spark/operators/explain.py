"""Score explanation — Lucene ``explain()`` for the BM25 engine.

Reference analog: the reference returns opaque distances with no
breakdown (/root/reference/src/search/search_provider.rs:44-59 carries
only aggregate counters); every production search engine grows an explain
endpoint, so this module adds one over the segment index.

The lookup is a POINT READ, not a scan: for each query term the doc's
range row is fetched via the pruned pyarrow segment read (bucket + term +
range_id filters), the block containing the doc comes from one binary
search of the row's block directory (``block_last``), and only that block
decodes — O(block_size) work per term, the same skip machinery WAND uses,
exercised one doc at a time. Light rows (range_id -1) use the same blocked
layout, so they take the same lookup.

The per-term contributions fold in ascending-term order, so the reported
total is bit-identical to the score :func:`operators.wand.search_index`
returns for the same doc.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.functions.bm25 import bm25_np, idf_np
from dawnsearch_spark.functions.codec import decode_block
from dawnsearch_spark.functions.tokenizer import tokenize_py
from dawnsearch_spark.index_build import (
    IndexPaths,
    gen_ids_with_rows,
    load_stats,
    segment_generations,
)
from dawnsearch_spark.operators.wand import _row_to_dict, _term_bucket


def explain_doc(
    index_root: str,
    query: str | dict[str, int],
    doc_id: int,
    cfg: EngineConfig,
    stats=None,
    tombstones: np.ndarray | None = None,
) -> dict:
    """Per-term BM25 breakdown of one document against one query.

    Returns ``{doc_id, score, matched: [{term, qtf, tf, dl, df, idf,
    tscore}, ...], missing: [terms]}`` with ``matched`` in ascending term
    order (the engine's accumulation order). A tombstoned doc explains to
    score 0 with ``deleted: True`` — exactly how search treats it.
    """
    paths = IndexPaths(index_root)
    stats = stats if stats is not None else load_stats(index_root)
    bag = Counter(tokenize_py(query)) if isinstance(query, str) else {
        t: float(w) for t, w in query.items()
    }
    terms = sorted(bag)
    out: dict = {"doc_id": int(doc_id), "score": 0.0, "matched": [], "missing": []}
    if tombstones is not None and len(tombstones):
        i = int(np.searchsorted(tombstones, doc_id))
        if i < len(tombstones) and int(tombstones[i]) == doc_id:
            out["deleted"] = True
            out["missing"] = terms
            return out
    if not terms:
        return out

    from dawnsearch_spark.operators.segment_reader import read_segment_rows

    buckets = sorted({_term_bucket(t, cfg.num_term_buckets) for t in terms})
    gens = gen_ids_with_rows(segment_generations(index_root))
    rid = int(doc_id) // cfg.range_size

    def _rows(range_id):
        return read_segment_rows(
            paths.segments, buckets, terms, range_id=range_id, gens=gens
        )

    # the doc lives in exactly one range; light rows span all ranges
    candidates = _rows(rid) + _rows(-1)

    # global df per term needs every row's n_docs (metadata-only fetch)
    meta = read_segment_rows(
        paths.segments, buckets, terms, columns=["term", "n_docs"], gens=gens
    )
    term_df: dict[str, int] = {}
    for r in meta:
        term_df[r["term"]] = term_df.get(r["term"], 0) + int(r["n_docs"])

    found: dict[str, tuple[int, int]] = {}  # term -> (tf, dl)
    for r in candidates:
        t = r["term"]
        if t in found:
            continue
        # block directory point lookup: one binary search + one block
        # (light and range rows share the blocked layout)
        rd = _row_to_dict(r)
        b = int(np.searchsorted(rd["block_last"], doc_id))
        if b >= len(rd["block_last"]):
            continue
        docs_b, tfs_b, dls_b = decode_block(rd, b, cfg.block_size)
        j = int(np.searchsorted(docs_b, doc_id))
        if j < len(docs_b) and int(docs_b[j]) == int(doc_id):
            found[t] = (int(tfs_b[j]), int(dls_b[j]))

    total = 0.0
    for t in terms:  # ascending-term fold: identical to the scorer
        if t not in found:
            out["missing"].append(t)
            continue
        tf, dl = found[t]
        idf = float(idf_np(float(term_df.get(t, 0)), float(stats.n_docs)))
        tscore = float(
            bag[t]
            * bm25_np(
                np.array([tf]), np.array([dl]), idf, stats.avgdl, cfg.k1, cfg.b
            )[0]
        )
        total += tscore
        out["matched"].append(
            {
                "term": t,
                "qtf": float(bag[t]),
                "tf": tf,
                "dl": dl,
                "df": int(term_df.get(t, 0)),
                "idf": idf,
                "tscore": tscore,
            }
        )
    out["score"] = total
    return out
