"""Stage-2: k-way merge of posting runs into block-max segments.

Reference analogs:
* the load/save segment lifecycle (/root/reference/src/search/
  search_provider.rs:111-120, 173-181) — runs are the checkpointable
  intermediate, merged segments are the serving artifact;
* the mmap segment reader's segment-base arithmetic
  (/root/reference/examples_old/document_embeddings.rs:81-92) — here the
  doc-range id (``range_id``) plays the segment-base role;
* per-block max-impact is the proper version of the reference's abandoned
  "early termination" upper-bound kernel
  (/root/reference/src/search/vector.rs:136-147 — "<10% faster" as a scan
  trick; as a block-skip bound it is the core of block-max WAND).

One kernel, :func:`merge_rows_columnar`, turns run rows into packed
segment rows: a batched decode, a vectorized k-way merge (one lexsort over
the disjoint docID-sorted runs of each key, no per-posting Python, so the
output is fully determined by the posting keys) and a batched block pack.
Every merge placement calls it: ``index_build._merge_bucket`` (driver
threads or one Spark task per bucket) and :func:`merge_runs_segments`
(the (term, salt) shuffle for large runs-sourced merges).

Output layout:
* light terms (df <= heavy_df_threshold): one row per term, range_id = -1,
  full posting list;
* heavy terms: one row per (term, doc-range), range_id = salt from stage 1
  — the query executor prunes these rows by range.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.functions.codec import encode_posting_blocks, varbyte_decode

SEGMENT_SCHEMA = (
    "term string, bucket int, range_id long, n_docs long, tf_sum long, "
    "doc_blob binary, tf_blob binary, dl_blob binary, "
    "block_last array<long>, block_doc_off array<long>, block_tf_off array<long>, "
    "block_dl_off array<long>, front_tf array<long>, front_dl array<long>, "
    "front_off array<long>, max_tf long, min_dl long"
)

SEGMENT_COLS = [
    "term", "bucket", "range_id", "n_docs", "tf_sum",
    "doc_blob", "tf_blob", "dl_blob",
    "block_last", "block_doc_off", "block_tf_off", "block_dl_off",
    "front_tf", "front_dl", "front_off", "max_tf", "min_dl",
]


def term_bucket_py(term: str, num_buckets: int) -> int:
    """CRC32 bucket — matches Spark's F.crc32 (both IEEE CRC-32/zlib)."""
    return (zlib.crc32(term.encode("utf-8")) & 0xFFFFFFFF) % num_buckets


def _decode_runs_merged(
    cols: dict[str, np.ndarray], s: int, e: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode run rows [s, e) of one key group and k-way merge them
    (vectorized: concat + stable argsort of docID-sorted disjoint runs)."""
    docs_l, tfs_l, dls_l = [], [], []
    n_docs = cols["n_docs"]
    doc_b, tf_b, dl_b = cols["doc_blob"], cols["tf_blob"], cols["dl_blob"]
    for i in range(s, e):
        n = int(n_docs[i])
        gaps = varbyte_decode(doc_b[i], n)
        docs_l.append(np.cumsum(gaps.astype(np.int64)))
        tfs_l.append(varbyte_decode(tf_b[i], n).astype(np.int64))
        dls_l.append(varbyte_decode(dl_b[i], n).astype(np.int64))
    if e - s == 1:
        return docs_l[0], tfs_l[0], dls_l[0]
    docs = np.concatenate(docs_l)
    tfs = np.concatenate(tfs_l)
    dls = np.concatenate(dls_l)
    order = np.argsort(docs, kind="stable")
    return docs[order], tfs[order], dls[order]


def _make_segment_row(
    term: str,
    range_id: int,
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    cfg: EngineConfig,
) -> dict:
    """Segment rows are STATS-FREE (no idf/avgdl baked in): the block
    directory stores per-block Pareto fronts of (tf, dl), from which the
    query layer derives the EXACT block-max BM25 bound under whatever
    corpus stats hold at query time (codec.py module docstring). This is
    what makes rows immutable under incremental appends — global df / N /
    avgdl all move, and the query layer recovers df exactly by summing
    ``n_docs`` across a term's rows (doc sets are disjoint across ranges
    and generations)."""
    packed = encode_posting_blocks(docs, tfs, dls, cfg.block_size)
    return {
        "term": term,
        "bucket": term_bucket_py(term, cfg.num_term_buckets),
        "range_id": int(range_id),
        "n_docs": int(packed["n_docs"]),
        # per-row collection-frequency partial, mirroring the run rows'
        # tf_sum: lets the term dictionary (df = Σ n_docs, cf = Σ tf_sum)
        # be rebuilt from segment METADATA alone, so the runs directory
        # stops being load-bearing once its groups are merged (gc_runs)
        "tf_sum": int(tfs.sum()),
        "doc_blob": packed["doc_blob"],
        "tf_blob": packed["tf_blob"],
        "dl_blob": packed["dl_blob"],
        "block_last": packed["block_last"].tolist(),
        "block_doc_off": packed["block_doc_off"].tolist(),
        "block_tf_off": packed["block_tf_off"].tolist(),
        "block_dl_off": packed["block_dl_off"].tolist(),
        "front_tf": packed["front_tf"].tolist(),
        "front_dl": packed["front_dl"].tolist(),
        "front_off": packed["front_off"].tolist(),
        "max_tf": packed["max_tf"],
        "min_dl": packed["min_dl"],
    }


def _merge_key_postings(
    terms: np.ndarray,
    salts: np.ndarray,
    n_docs: np.ndarray,
    doc_blobs,
    tf_blobs,
    dl_blobs,
    range_size: int,
    split_terms: set | frozenset | None = None,
    tomb: np.ndarray | None = None,
):
    """Batched decode + k-way merge of run rows into per-key posting arrays.

    Decodes ALL rows' streams in ONE varbyte call per stream (the
    per-row/per-key NumPy fixed overhead dominated the merge at O(batch)
    input sizes), assigns every posting its final (term, salt) key —
    splitting light rows of ``split_terms`` members by doc-range exactly
    like ``reclassify_runs`` — applies the tombstone mask, and merges via
    one global lexsort (docs are disjoint across a key's runs, so the
    permutation is fully determined — same output as the per-key stable
    argsort). Returns (key_terms, key_tids, key_salts, key_starts, docs,
    tfs, dls); ``key_starts`` has a trailing total-length sentinel."""
    from dawnsearch_spark.functions.codec import varbyte_decode

    n_docs = np.ascontiguousarray(n_docs, np.int64)
    keep_rows = n_docs > 0
    if not keep_rows.all():
        terms = terms[keep_rows]
        salts = salts[keep_rows]
        doc_blobs = [b for b, m in zip(doc_blobs, keep_rows) if m]
        tf_blobs = [b for b, m in zip(tf_blobs, keep_rows) if m]
        dl_blobs = [b for b, m in zip(dl_blobs, keep_rows) if m]
        n_docs = n_docs[keep_rows]
    total = int(n_docs.sum())
    empty = (
        np.asarray([], dtype=object),
        np.zeros(0, np.int64),
        np.zeros(0, np.int64),
        np.zeros(1, np.int64),
        np.zeros(0, np.int64),
        np.zeros(0, np.int64),
        np.zeros(0, np.int64),
    )
    if total == 0:
        return empty
    gaps = varbyte_decode(b"".join(doc_blobs), total).astype(np.int64)
    tfs = varbyte_decode(b"".join(tf_blobs), total).astype(np.int64)
    dls = varbyte_decode(b"".join(dl_blobs), total).astype(np.int64)
    row_starts = np.zeros(len(n_docs) + 1, np.int64)
    np.cumsum(n_docs, out=row_starts[1:])
    g = np.cumsum(gaps)
    corr = np.zeros(len(n_docs), np.int64)
    corr[1:] = g[row_starts[1:-1] - 1]
    docs = g - np.repeat(corr, n_docs)

    uniq, tid = np.unique(np.asarray(terms, dtype=object), return_inverse=True)
    salts = np.ascontiguousarray(salts, np.int64)
    tid_p = np.repeat(tid, n_docs)
    salt_p = np.repeat(salts, n_docs)
    if split_terms:
        split_row = np.fromiter(
            (s == -1 and t in split_terms for t, s in zip(terms, salts)),
            bool,
            len(terms),
        )
        split_p = np.repeat(split_row, n_docs)
        salt_p = np.where(split_p, docs // range_size, salt_p)
    if tomb is not None and len(tomb):
        m = _tombstone_mask(docs, tomb)
        docs, tfs, dls = docs[m], tfs[m], dls[m]
        tid_p, salt_p = tid_p[m], salt_p[m]
        if not len(docs):
            return empty
    order = np.lexsort((docs, salt_p, tid_p))
    docs, tfs, dls = docs[order], tfs[order], dls[order]
    tid_p, salt_p = tid_p[order], salt_p[order]
    change = (tid_p[1:] != tid_p[:-1]) | (salt_p[1:] != salt_p[:-1])
    key_starts = np.concatenate(
        ([0], np.flatnonzero(change) + 1, [len(docs)])
    ).astype(np.int64)
    key_tid = tid_p[key_starts[:-1]]
    key_terms = uniq[key_tid]
    key_salts = salt_p[key_starts[:-1]]
    return key_terms, key_tid, key_salts, key_starts, docs, tfs, dls


#: cap on padded (blocks x block_size) front-matrix cells per chunk —
#: bounds kernel memory regardless of how many singleton keys a batch has
_FRONT_CHUNK_CELLS = 1 << 22


def encode_segment_columns(
    key_terms: np.ndarray,
    key_tid: np.ndarray,
    key_salts: np.ndarray,
    key_starts: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    cfg: EngineConfig,
    uniq_terms: np.ndarray | None = None,
) -> dict:
    """Batched :func:`encode_posting_blocks` over many keys at once.

    One varbyte encode per stream for the whole batch, vectorized block
    directory (offsets, block_last) and Pareto fronts (padded-matrix pass
    per bounded chunk) — per-key values identical to the per-key encoder.
    Returns a columnar dict: scalar arrays per key, per-key blob bytes
    lists, and (values, sizes) pairs for the per-key directory lists."""
    from dawnsearch_spark.functions.codec import varbyte_encode_with_sizes

    bs = cfg.block_size
    K = len(key_terms)
    if K == 0:
        z = np.zeros(0, np.int64)
        return {
            "term": np.asarray([], dtype=object), "bucket": z, "range_id": z,
            "n_docs": z, "tf_sum": z, "doc_blob": [], "tf_blob": [],
            "dl_blob": [], "block_last_vals": z, "block_last_sizes": z,
            "block_doc_off_vals": z, "block_tf_off_vals": z,
            "block_dl_off_vals": z, "off_sizes": z, "front_tf_vals": z,
            "front_dl_vals": z, "front_sizes": z, "front_off_vals": z,
            "max_tf": z, "min_dl": z,
        }
    out = {
        "term": key_terms,
        "range_id": np.ascontiguousarray(key_salts, np.int64),
    }
    if uniq_terms is None:
        uniq_terms, inv = np.unique(key_terms, return_inverse=True)
        key_tid = inv
    ubuckets = np.fromiter(
        (term_bucket_py(str(t), cfg.num_term_buckets) for t in uniq_terms),
        np.int64,
        len(uniq_terms),
    )
    out["bucket"] = ubuckets[key_tid]
    starts = key_starts[:-1]
    ends = key_starts[1:]
    n_per = ends - starts
    out["n_docs"] = n_per
    out["tf_sum"] = np.add.reduceat(tfs, starts)
    out["max_tf"] = np.maximum.reduceat(tfs, starts)
    out["min_dl"] = np.minimum.reduceat(dls, starts)

    total = len(docs)
    gaps = np.empty(total, np.uint64)
    gaps[1:] = (docs[1:] - docs[:-1]).astype(np.uint64)
    gaps[starts] = docs[starts].astype(np.uint64)
    doc_all, nb_d = varbyte_encode_with_sizes(gaps)
    tf_all, nb_t = varbyte_encode_with_sizes(tfs.astype(np.uint64))
    dl_all, nb_l = varbyte_encode_with_sizes(dls.astype(np.uint64))

    def _cum(nb: np.ndarray) -> np.ndarray:
        c = np.zeros(total + 1, np.int64)
        np.cumsum(nb, out=c[1:])
        return c

    c_d, c_t, c_l = _cum(nb_d), _cum(nb_t), _cum(nb_l)
    out["doc_blob"] = [bytes(doc_all[c_d[s]:c_d[e]]) for s, e in zip(starts, ends)]
    out["tf_blob"] = [bytes(tf_all[c_t[s]:c_t[e]]) for s, e in zip(starts, ends)]
    out["dl_blob"] = [bytes(dl_all[c_l[s]:c_l[e]]) for s, e in zip(starts, ends)]

    nblocks = (n_per + bs - 1) // bs
    out["nblocks"] = nblocks
    nb_off = np.zeros(K + 1, np.int64)
    np.cumsum(nblocks, out=nb_off[1:])
    tb = int(nb_off[-1])
    w = np.arange(tb, dtype=np.int64) - np.repeat(nb_off[:-1], nblocks)
    bstart = np.repeat(starts, nblocks) + w * bs
    bend = np.minimum(bstart + bs, np.repeat(ends, nblocks))
    out["block_last_vals"] = docs[bend - 1]
    out["block_last_sizes"] = nblocks

    off_sizes = nblocks + 1
    voff = np.zeros(K + 1, np.int64)
    np.cumsum(off_sizes, out=voff[1:])
    bslot = np.repeat(voff[:-1], nblocks) + w  # slot of each block per key

    def _dir_offsets(c: np.ndarray) -> np.ndarray:
        vals = np.empty(tb + K, np.int64)
        vals[bslot] = c[bstart]
        vals[voff[1:] - 1] = c[ends]
        vals -= np.repeat(c[starts], off_sizes)
        return vals

    out["block_doc_off_vals"] = _dir_offsets(c_d)
    out["block_tf_off_vals"] = _dir_offsets(c_t)
    out["block_dl_off_vals"] = _dir_offsets(c_l)
    out["off_sizes"] = off_sizes

    # ---- Pareto fronts, padded-matrix pass per bounded key chunk ----
    ft_parts, fd_parts, cnt_parts = [], [], []
    sent = np.iinfo(np.int64).max
    arange_bs = np.arange(bs, dtype=np.int64)
    b0 = 0
    while b0 < tb:
        b1 = min(tb, b0 + max(1, _FRONT_CHUNK_CELLS // bs))
        cs, ce = bstart[b0:b1], bend[b0:b1]
        idx = cs[:, None] + arange_bs[None, :]
        valid = idx < ce[:, None]
        np.minimum(idx, total - 1, out=idx)
        tf_m = np.where(valid, tfs[idx], 0)
        dl_m = np.where(valid, dls[idx], sent)
        order = np.lexsort((-tf_m, dl_m), axis=1)
        rows = np.arange(b1 - b0)[:, None]
        tf_s = tf_m[rows, order]
        dl_s = dl_m[rows, order]
        run = np.maximum.accumulate(tf_s, axis=1)
        keep = np.ones_like(tf_s, bool)
        keep[:, 1:] = tf_s[:, 1:] > run[:, :-1]
        keep &= tf_s > 0
        cnt_parts.append(keep.sum(axis=1))
        flat = keep.ravel()
        ft_parts.append(tf_s.ravel()[flat])
        fd_parts.append(dl_s.ravel()[flat])
        b0 = b1
    counts = (
        np.concatenate(cnt_parts) if cnt_parts else np.zeros(0, np.int64)
    )
    out["front_tf_vals"] = (
        np.concatenate(ft_parts) if ft_parts else np.zeros(0, np.int64)
    )
    out["front_dl_vals"] = (
        np.concatenate(fd_parts) if fd_parts else np.zeros(0, np.int64)
    )
    # per-key front sizes + within-key front_off lists (nblocks+1 entries)
    out["front_sizes"] = np.add.reduceat(counts, nb_off[:-1]) if tb else np.zeros(0, np.int64)
    cc = np.zeros(tb + 1, np.int64)
    np.cumsum(counts, out=cc[1:])
    fo_vals = np.empty(tb + K, np.int64)
    fo_vals[bslot] = cc[:-1][np.arange(tb)]
    fo_vals[voff[1:] - 1] = cc[nb_off[1:]]
    fo_vals -= np.repeat(cc[nb_off[:-1]], off_sizes)
    out["front_off_vals"] = fo_vals
    return out


def segment_columns_to_rows(cols: dict) -> dict:
    """Columnar kernel output -> per-row Python lists for the SEGMENT_COLS
    schema (pandas/Arrow cells). Splits the directory value arrays by the
    per-key sizes; scalar columns pass through."""
    K = len(cols["term"])
    if K == 0:
        return {c: [] for c in SEGMENT_COLS}

    def _split(vals: np.ndarray, sizes: np.ndarray) -> list:
        offs = np.zeros(len(sizes) + 1, np.int64)
        np.cumsum(sizes, out=offs[1:])
        return [vals[s:e].tolist() for s, e in zip(offs[:-1], offs[1:])]

    return {
        "term": list(cols["term"]),
        "bucket": cols["bucket"].tolist(),
        "range_id": cols["range_id"].tolist(),
        "n_docs": cols["n_docs"].tolist(),
        "tf_sum": cols["tf_sum"].tolist(),
        "doc_blob": cols["doc_blob"],
        "tf_blob": cols["tf_blob"],
        "dl_blob": cols["dl_blob"],
        "block_last": _split(cols["block_last_vals"], cols["block_last_sizes"]),
        "block_doc_off": _split(cols["block_doc_off_vals"], cols["off_sizes"]),
        "block_tf_off": _split(cols["block_tf_off_vals"], cols["off_sizes"]),
        "block_dl_off": _split(cols["block_dl_off_vals"], cols["off_sizes"]),
        "front_tf": _split(cols["front_tf_vals"], cols["front_sizes"]),
        "front_dl": _split(cols["front_dl_vals"], cols["front_sizes"]),
        "front_off": _split(cols["front_off_vals"], cols["off_sizes"]),
        "max_tf": cols["max_tf"].tolist(),
        "min_dl": cols["min_dl"].tolist(),
    }


def merge_rows_columnar(
    terms,
    salts,
    n_docs,
    doc_blobs,
    tf_blobs,
    dl_blobs,
    cfg: EngineConfig,
    split_terms=None,
    tomb: np.ndarray | None = None,
) -> dict:
    """Run rows -> merged, packed segment rows (columnar), fully batched."""
    key_terms, key_tid, key_salts, key_starts, d, t, l = _merge_key_postings(
        terms, salts, n_docs, doc_blobs, tf_blobs, dl_blobs,
        cfg.range_size, split_terms=split_terms, tomb=tomb,
    )
    return encode_segment_columns(
        key_terms, key_tid, key_salts, key_starts, d, t, l, cfg
    )


def merge_runs_segments(
    runs: DataFrame, cfg: EngineConfig, parts: int, tombstones_bc=None
) -> DataFrame:
    """Unified run merge: one (term, salt)-keyed exchange + mapInPandas
    whose batches run the fully-batched :func:`merge_rows_columnar`
    kernel — light keys (salt = -1) come out as light rows, salted keys
    as range rows, exactly the rows the former light/heavy branch pair
    produced, with one exchange + one Python stage instead of two of
    each. Key groups are reassembled across Arrow batches (trailing-group
    carry-over)."""

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        tomb = tombstones_bc.value if tombstones_bc is not None else None
        cols = merge_rows_columnar(
            pdf["term"].to_numpy(),
            pdf["salt"].to_numpy(np.int64),
            pdf["n_docs"].to_numpy(np.int64),
            pdf["doc_blob"].to_numpy(),
            pdf["tf_blob"].to_numpy(),
            pdf["dl_blob"].to_numpy(),
            cfg,
            tomb=tomb,
        )
        return pd.DataFrame(segment_columns_to_rows(cols))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            term = pdf["term"].to_numpy()
            salt = pdf["salt"].to_numpy()
            same_tail = (term == term[-1]) & (salt == salt[-1])
            diff = np.flatnonzero(~same_tail)
            start = int(diff[-1]) + 1 if len(diff) else 0
            complete, pending = pdf.iloc[:start], pdf.iloc[start:]
            if len(complete):
                yield emit(complete.reset_index(drop=True))
        if pending is not None and len(pending):
            yield emit(pending.reset_index(drop=True))

    sorted_runs = runs.repartition(parts, "term", "salt").sortWithinPartitions(
        "term", "salt", "group"
    )
    return sorted_runs.mapInPandas(gen, SEGMENT_SCHEMA)


def _tombstone_mask(docs: np.ndarray, tomb: np.ndarray) -> np.ndarray:
    """Boolean keep-mask for ``docs`` against the sorted tombstone docID
    array (vectorized membership via searchsorted)."""
    pos = np.searchsorted(tomb, docs)
    hit = (pos < len(tomb)) & (tomb[np.minimum(pos, len(tomb) - 1)] == docs)
    return ~hit

