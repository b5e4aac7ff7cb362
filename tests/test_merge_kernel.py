"""Differential test: the batched merge/encode kernel
(merge_rows_columnar + segment_columns_to_rows) must emit EXACTLY the
rows the original per-key path produced (_decode_runs_merged +
_make_segment_row) under the one layout rule — a term is range-split iff
it is in ``split_terms``, whatever layout its input rows had (light rows
of split terms split, range rows of other terms collapse to one light
row) — and the tombstone mask, across randomized fixtures with
multi-byte varbyte values, multi-run keys and range-crossing lists."""

from __future__ import annotations

import numpy as np
import pytest

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.functions.codec import varbyte_decode, varbyte_encode
from dawnsearch_spark.operators.merge import (
    _make_segment_row,
    _tombstone_mask,
    merge_rows_columnar,
    segment_columns_to_rows,
)

CFG = EngineConfig(range_size=64, block_size=8, num_term_buckets=8)


def _encode_run(docs, tfs, dls):
    gaps = np.empty(len(docs), np.uint64)
    gaps[0] = docs[0]
    gaps[1:] = np.diff(docs).astype(np.uint64)
    return (
        varbyte_encode(gaps),
        varbyte_encode(tfs.astype(np.uint64)),
        varbyte_encode(dls.astype(np.uint64)),
    )


def _decode_runs_merged(
    cols: dict[str, np.ndarray], s: int, e: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Reference per-key merge: decode run rows [s, e) of one key group
    and k-way merge them (concat + stable argsort of docID-sorted disjoint
    runs)."""
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


def _random_fixture(rng, n_terms=12, max_runs=4, doc_space=500):
    """(term, range_id, docs, tfs, dls) input rows; a term's rows hold
    disjoint doc sets. ~40% of the terms arrive as range rows (segment
    rows of a range-split generation), the rest as light rows."""
    rows = []
    for ti in range(n_terms):
        term = f"t{rng.integers(0, 1000)}_{ti}"
        range_rows = rng.random() < 0.4
        pool = np.sort(
            rng.choice(doc_space, size=rng.integers(2, 60), replace=False)
        ).astype(np.int64)
        if range_rows:
            # one row per (range, run-index) slice with its range_id set
            ranges = pool // CFG.range_size
            for r in np.unique(ranges):
                sel = pool[ranges == r]
                parts = np.array_split(sel, rng.integers(1, max_runs + 1))
                for p in parts:
                    if not len(p):
                        continue
                    tfs = rng.integers(1, 300, len(p)).astype(np.int64)
                    dls = rng.integers(1, 5000, len(p)).astype(np.int64)
                    rows.append((term, int(r), p, tfs, dls))
        else:
            parts = np.array_split(pool, rng.integers(1, max_runs + 1))
            for p in parts:
                if not len(p):
                    continue
                tfs = rng.integers(1, 300, len(p)).astype(np.int64)
                dls = rng.integers(1, 5000, len(p)).astype(np.int64)
                rows.append((term, -1, p, tfs, dls))
    rng.shuffle(rows)
    return rows


def _expected_rows(rows, split_terms, tomb):
    """Per-key formulation: key each row's docs by the one rule, per-key
    merge, per-key pack. The input row's range_id is never read."""
    groups: dict[tuple, list] = {}
    for term, _rid, docs, tfs, dls in rows:
        if term in split_terms:
            ranges = docs // CFG.range_size
            for r in np.unique(ranges):
                m = ranges == r
                groups.setdefault((term, int(r)), []).append(
                    (docs[m], tfs[m], dls[m])
                )
        else:
            groups.setdefault((term, -1), []).append((docs, tfs, dls))
    out = {}
    for (term, rid), parts in groups.items():
        blobs = [_encode_run(d, t, l) for d, t, l in parts]
        cols = {
            "term": np.asarray([term] * len(parts), dtype=object),
            "n_docs": np.asarray([len(d) for d, _, _ in parts], np.int64),
            "doc_blob": np.asarray([b[0] for b in blobs], dtype=object),
            "tf_blob": np.asarray([b[1] for b in blobs], dtype=object),
            "dl_blob": np.asarray([b[2] for b in blobs], dtype=object),
        }
        docs, tfs, dls = _decode_runs_merged(cols, 0, len(parts))
        if tomb is not None:
            m = _tombstone_mask(docs, tomb)
            docs, tfs, dls = docs[m], tfs[m], dls[m]
            if not len(docs):
                continue
        out[(term, rid)] = _make_segment_row(term, rid, docs, tfs, dls, CFG)
    return out


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("with_split,with_tomb", [(False, False), (True, False), (True, True)])
def test_kernel_matches_per_key_path(seed, with_split, with_tomb):
    rng = np.random.default_rng(seed)
    rows = _random_fixture(rng)
    terms = np.asarray([r[0] for r in rows], dtype=object)
    all_terms = sorted(set(terms))
    split_terms = set(all_terms[:: 3]) if with_split else set()
    tomb = None
    if with_tomb:
        tomb = np.sort(rng.choice(500, size=60, replace=False)).astype(np.int64)

    blobs = [_encode_run(d, t, l) for _, _, d, t, l in rows]
    cols = merge_rows_columnar(
        terms,
        np.asarray([len(r[2]) for r in rows], np.int64),
        [b[0] for b in blobs],
        [b[1] for b in blobs],
        [b[2] for b in blobs],
        CFG,
        split_terms=split_terms,
        tomb=tomb,
    )
    got_rows = segment_columns_to_rows(cols)
    got = {
        (got_rows["term"][i], got_rows["range_id"][i]): {
            c: got_rows[c][i] for c in got_rows
        }
        for i in range(len(got_rows["term"]))
    }
    want = _expected_rows(rows, split_terms, tomb)
    assert set(got) == set(want)
    for key, w in want.items():
        g = got[key]
        for c in w:
            wv = w[c]
            gv = g[c]
            if isinstance(wv, (bytes, bytearray)):
                assert bytes(gv) == bytes(wv), (key, c)
            elif isinstance(wv, list):
                assert list(gv) == list(wv), (key, c)
            else:
                assert gv == wv, (key, c, gv, wv)


def test_kernel_empty_input():
    cols = merge_rows_columnar(
        np.asarray([], dtype=object), np.zeros(0, np.int64), [], [], [], CFG,
    )
    rows = segment_columns_to_rows(cols)
    assert rows["term"] == []
