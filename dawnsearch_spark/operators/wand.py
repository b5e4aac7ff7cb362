"""Block-max WAND top-k query executor.

Reference semantics being preserved (SURVEY.md §2.5 T1/T4, §4 P1/P2):
* local-first search with a pruning threshold — the reference seeds a
  bounded top-k with local hits, captures its worst distance and ships
  it so peers filter before responding (search_service.rs:201-236;
  udp_service.rs:196-200). Here the threshold semantics stay and the
  fan-out goes: the driver scores the small ("light") posting lists
  exactly, seeds θ from them, and walks the rest of the query's rows
  itself, pruning doc-ranges and candidates whose block-max upper bound
  is below θ;
* bounded top-k accumulator with (score desc, doc_id asc) final order
  (/root/reference/src/search/best_results.rs:28-79);
* per-search observability counters, the analog of the reference's
  ``servers_contacted`` / ``pages_searched``
  (/root/reference/src/search/search_provider.rs:44-59): ranges pruned,
  blocks decoded, postings scored, driver postings decoded, path taken;
* unlike the reference's 200 ms best-effort deadline gather
  (udp_service.rs:300-341), nothing is dropped: every doc-range is either
  scored or pruned by an admissible bound, so results are exact, verified
  rank-identical to the full-scan oracle.

Execution shape (every path: ZERO Spark jobs):
  query terms -> bucket + term pruning; metadata comes from the Engine's
     COLUMNAR driver-resident term dictionary (plans/query.py TermMeta),
     else a pruned metadata read. Global df per term = Σ n_docs over the
     term's rows (ranges and generations are disjoint doc sets), so idf
     is exact under incremental appends with nothing stats-dependent
     stored in the index
  -> ONE choice, by the query's total postings (Σ n_docs over its rows,
     light and range alike) against ``max_driver_postings``:
  driver path (the total fits): every term's whole posting list is
     scored exactly on the driver (TAAT). A list comes from the Engine's
     PostingListCache LRU — one merged, docID-sorted (docs, tfs, dls) per
     term, whatever its layout — or, on a miss, from one pyarrow read of
     the term's rows in the local segments dir (operators/segment_reader.py
     — reference S7 in-process segment scan, document_embeddings.rs:17-54;
     only MANIFEST-LISTED generation dirs, never compaction leftovers)
     and a full decode.
  block-max walk (the total exceeds the budget — the scale path):
  -> light lists of terms with no range row come through the same LRU,
     smallest-TERM-first under the budget, and seed θ0
  -> every other row of the query's terms (range rows, plus the light
     rows of overflow terms and of terms that also have range rows) is
     read ONCE, compressed, by one pyarrow read. A range row belongs to
     its doc-range; a light row enters every doc-range its blocks meet,
     as a view of that block span (a block-directory lookup, no decode)
  -> the walk derives EXACT per-block BM25 maxima from the rows'
     stats-free (tf, dl) Pareto fronts under current stats
     (_attach_bounds), visits doc-ranges in descending upper-bound order
     with a rising θ, prunes whole ranges by Σ over terms of the per-term
     bound, prunes candidates by per-block max, decodes only a view's
     doc blocks, and decodes tf/dl only for blocks that still have
     survivors
  -> keep-max merge with the light scores, final sort.

A doc's score is computed whole inside exactly one range visit (every
row or view of a doc-range is masked to that range, and the
driver-resident light lists are sliced per range), so the keep-max merge
never adds partial scores — the merge is exact. With tiered generations
a (term, range) may have several rows holding DISJOINT doc subsets:
per-term bounds take the MAX over rows, exact contributions accumulate
row by row (each doc matches at most one row).

All per-posting work is NumPy-vectorized. Scores accumulate per doc in
ascending-term order in float64, the oracle's fold order (SURVEY.md §7
hard part 1). They can still differ from the oracle's in the last ulp:
idf's ``log`` runs in NumPy here and in the JVM there (ROADMAP item 2).
"""

from __future__ import annotations

import zlib
from collections import Counter
from dataclasses import dataclass

import numpy as np

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.functions.bm25 import bm25_np, idf_np
from dawnsearch_spark.functions.codec import varbyte_decode
from dawnsearch_spark.functions.tokenizer import tokenize_py
from dawnsearch_spark.index_build import IndexPaths, load_stats
from dawnsearch_spark.operators.tf import CorpusStats


def new_counters() -> dict:
    return {
        "path": "",  # "driver" or "block_max"
        "terms": 0,
        "light_terms_driver": 0,
        "light_terms_overflow": 0,
        "heavy_rows": 0,
        # postings of WHOLE lists decoded on the driver (the part bounded
        # by max_driver_postings); the block-max walk's block decodes are
        # counted by blocks_decoded instead
        "driver_postings_decoded": 0,
        "ranges_pruned": 0,
        "blocks_decoded": 0,
        "postings_scored": 0,
        # θ0 of the block-max walk: the kth best light-list score
        "theta_seed": 0.0,
        # posting-list LRU lookups of THIS search, one per cached term
        # lookup of any layout (Engine serving only; 0/0 when no cache in
        # play). The keys keep their "light_" names for existing readers.
        "light_cache_hits": 0,
        "light_cache_misses": 0,
        # active tombstoned docIDs filtered from this search (Lucene-style
        # deletes pending purge)
        "tombstones": 0,
    }


@dataclass
class LightList:
    term: str
    qtf: float
    idf: float
    docs: np.ndarray
    tfs: np.ndarray
    dls: np.ndarray


class PostingListCache:
    """Bounded LRU of DECODED posting lists, keyed by term.

    The reference keeps its whole index resident in RAM between queries
    (load once, serve many — search_provider.rs:111-120); our driver
    analog is this cache: repeated serving terms skip the fetch+varbyte
    decode entirely. Each entry is one term's whole posting list, merged
    across its rows into one docID-sorted ``(docs, tfs, dls)`` whatever
    its layout (light rows, range rows, or both across generations) —
    only the query-independent, UNMASKED arrays; qtf, idf and the
    tombstone mask are query-time. Bounded by total cached POSTINGS (the
    actual memory driver), evicted LRU. Cached lists must match the
    served generations: on ``refresh()`` the Engine drops only the terms
    that gained a row in a new generation after a plain append, and
    starts a fresh cache after a compaction or a full reload (the
    generation list changed, so any cached list could hold dropped
    rows)."""

    def __init__(self, max_postings: int):
        import threading
        from collections import OrderedDict

        self._d: "OrderedDict[str, tuple]" = OrderedDict()
        self._postings: dict[str, int] = {}
        self._total = 0
        self.max_postings = int(max_postings)
        self.hits = 0
        self.misses = 0
        # one Engine serves many in-flight searches (the reference's
        # ActiveSearch table, udp_service.rs:296-341); the LRU reorder in
        # get() and the evict loop in put() are the only cross-search
        # mutations — a lock keeps them safe and costs ~100ns against a
        # cache hit that saves a fetch + varbyte decode
        self._lock = threading.Lock()

    def get(self, term: str):
        with self._lock:
            lists = self._d.get(term)
            if lists is None:
                self.misses += 1
                return None
            self._d.move_to_end(term)
            self.hits += 1
            return lists

    def drop_terms(self, terms) -> int:
        """Evict specific terms (incremental refresh: only terms that
        gained a row in a NEW generation go stale — every other cached
        list still matches the on-disk rows). Returns evictions."""
        n = 0
        with self._lock:
            for t in terms:
                if t in self._d:
                    del self._d[t]
                    self._total -= self._postings.pop(t)
                    n += 1
        return n

    def put(self, term: str, lists: tuple, n_postings: int) -> None:
        if n_postings > self.max_postings:
            return  # never let one giant term flush the whole cache
        with self._lock:
            if term in self._d:
                self._total -= self._postings[term]
            self._d[term] = lists
            self._postings[term] = int(n_postings)
            self._total += int(n_postings)
            self._d.move_to_end(term)
            while self._total > self.max_postings and self._d:
                old_term, _ = self._d.popitem(last=False)
                self._total -= self._postings.pop(old_term)


def _term_bucket(term: str, num_buckets: int) -> int:
    return (zlib.crc32(term.encode("utf-8")) & 0xFFFFFFFF) % num_buckets


def _decode_row_docs(row: dict) -> np.ndarray:
    gaps = varbyte_decode(row["doc_blob"], int(row["n_docs"]))
    return np.cumsum(gaps.astype(np.int64))


def _row_to_dict(r) -> dict:
    return {
        "term": r["term"],
        "range_id": int(r["range_id"]),
        "n_docs": int(r["n_docs"]),
        "doc_blob": bytes(r["doc_blob"]),
        "tf_blob": bytes(r["tf_blob"]),
        "dl_blob": bytes(r["dl_blob"]),
        "block_last": np.asarray(r["block_last"], np.int64),
        "block_doc_off": np.asarray(r["block_doc_off"], np.int64),
        "block_tf_off": np.asarray(r["block_tf_off"], np.int64),
        "block_dl_off": np.asarray(r["block_dl_off"], np.int64),
        "front_tf": np.asarray(r["front_tf"], np.int64),
        "front_dl": np.asarray(r["front_dl"], np.int64),
        "front_off": np.asarray(r["front_off"], np.int64),
    }


def _attach_bounds(rd: dict, idf: float, stats: CorpusStats, cfg: EngineConfig) -> dict:
    """Derive the EXACT per-block BM25 maxima for one segment row under
    the CURRENT corpus stats. Rows store the stats-free Pareto front of
    (tf, dl) per block; BM25 is monotone increasing in tf and decreasing
    in dl, so the block max over the front equals the block max over all
    member postings for ANY (idf, avgdl) — full pruning power no matter
    how many appends happened since the row was written."""
    fvals = bm25_np(rd["front_tf"], rd["front_dl"], idf, stats.avgdl, cfg.k1, cfg.b)
    rd["block_ub"] = np.maximum.reduceat(fvals, rd["front_off"][:-1])
    rd["row_ub"] = float(rd["block_ub"].max())
    return rd


def _decode_blocks_tf_dl(
    row: dict, blocks: np.ndarray, block_size: int, ctr: dict | None = None
) -> dict[int, tuple]:
    """Decode tf/dl streams only for the given block ids (BMW's saving).

    Consecutive needed blocks are decoded as ONE varbyte call per stream
    (their byte ranges are adjacent by construction of the directory) and
    sliced per block afterwards: the per-call NumPy overhead, not the
    bytes, dominates at block_size-sized payloads, and candidates usually
    hit runs of adjacent blocks. Only the needed blocks' bytes are ever
    touched either way."""
    out = {}
    n = int(row["n_docs"])
    if ctr is not None:
        ctr["blocks_decoded"] += len(blocks)
    tf_off = row["block_tf_off"]
    dl_off = row["block_dl_off"]
    tf_mv = memoryview(row["tf_blob"])
    dl_mv = memoryview(row["dl_blob"])
    i = 0
    m = len(blocks)
    while i < m:
        j = i
        while j + 1 < m and int(blocks[j + 1]) == int(blocks[j]) + 1:
            j += 1
        b0, b1 = int(blocks[i]), int(blocks[j])
        s = b0 * block_size
        cnt = min((b1 + 1) * block_size, n) - s
        tfs = varbyte_decode(tf_mv[tf_off[b0] : tf_off[b1 + 1]], cnt).astype(np.int64)
        dls = varbyte_decode(dl_mv[dl_off[b0] : dl_off[b1 + 1]], cnt).astype(np.int64)
        for b in range(b0, b1 + 1):
            a = (b - b0) * block_size
            out[b] = (tfs[a : a + block_size], dls[a : a + block_size])
        i = j + 1
    return out


def _exact_light_scores(
    lights: list[LightList], stats: CorpusStats, cfg: EngineConfig
) -> tuple[np.ndarray, np.ndarray]:
    """Exact TAAT scoring over fully-decoded light lists (ascending-term
    accumulation). Returns (doc_ids, scores)."""
    if not lights:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    all_docs = np.unique(np.concatenate([l.docs for l in lights]))
    acc = np.zeros(len(all_docs), np.float64)
    for l in sorted(lights, key=lambda x: x.term):
        pos = np.searchsorted(all_docs, l.docs)
        acc[pos] += l.qtf * bm25_np(l.tfs, l.dls, l.idf, stats.avgdl, cfg.k1, cfg.b)
    return all_docs, acc


def _topk_merge(doc_ids, scores, k: int) -> list[tuple[int, float]]:
    """Dedup keep-max, then (score desc, doc_id asc) top-k."""
    best: dict[int, float] = {}
    for d, s in zip(doc_ids, scores):
        d = int(d)
        if s > best.get(d, -1.0):
            best[d] = float(s)
    return sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def _topk_unique(doc_ids: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
    """(score desc, doc_id asc) top-k for ALREADY-UNIQUE doc ids —
    vectorized (the per-doc Python dict of :func:`_topk_merge` costs more
    than the whole scoring pass on corpus-sized result sets). Exact same
    ordering contract: boundary ties resolved by doc_id ascending via a
    full lexsort of every row tied with the kth score."""
    n = len(doc_ids)
    if n <= k:
        idx = np.lexsort((doc_ids, -scores))
        return [(int(doc_ids[i]), float(scores[i])) for i in idx]
    thresh = np.partition(scores, n - k)[n - k]
    cand = np.flatnonzero(scores >= thresh)
    order = np.lexsort((doc_ids[cand], -scores[cand]))[:k]
    sel = cand[order]
    return [(int(doc_ids[i]), float(scores[i])) for i in sel]


def _first_doc(row: dict) -> int:
    """First docID of a packed row: the one varbyte value that opens its
    doc stream (block 0 stores the absolute docID)."""
    head = np.frombuffer(row["doc_blob"][:10], np.uint8)
    return int(varbyte_decode(head[: int(np.argmax(head < 0x80)) + 1].tobytes(), 1)[0])


def _span_docs(row: dict, lo: int, hi: int, block_size: int) -> tuple[np.ndarray, int]:
    """DocIDs of one row view that fall in ``[lo, hi)``, and the row
    position of the first of them. Only the view's block span
    ``[b0, b1)`` of the doc stream is decoded; the span's first gap is
    relative to ``block_last[b0 - 1]``, as in :func:`codec.decode_block`."""
    b0, b1 = row["b0"], row["b1"]
    s = b0 * block_size
    off = row["block_doc_off"]
    gaps = varbyte_decode(
        memoryview(row["doc_blob"])[off[b0] : off[b1]],
        min(b1 * block_size, row["n_docs"]) - s,
    )
    docs = np.cumsum(gaps.astype(np.int64))
    if b0 > 0:
        docs += int(row["block_last"][b0 - 1])
    a, e = np.searchsorted(docs, lo), np.searchsorted(docs, hi)
    return docs[a:e], s + int(a)


def _score_one_range(
    lo: int,
    hi: int,
    rows: dict[str, list[dict]],
    lights: list[LightList],
    qmeta: list[tuple[str, float, float]],  # (term, qtf, idf) ascending term
    theta: float,
    stats: CorpusStats,
    cfg: EngineConfig,
    ctr: dict | None = None,
    tomb: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact scores for surviving docs of one doc-range ``[lo, hi)``.

    ``rows`` maps term -> LIST of row views (see
    :func:`_group_rows_by_range`): with tiered segment generations a term
    can have one row per generation, holding DISJOINT doc sets (a doc is
    indexed by exactly one generation). A term's upper bound for a doc is
    therefore the MAX over its rows' block bounds (never the sum), and
    exact contributions accumulate row by row — each doc matches in at
    most one row."""
    # light slices restricted to this range, scored exactly (cheap, small)
    slices: dict[str, list[tuple]] = {}
    term_slice_max: dict[str, float] = {}
    for l in lights:
        a, b_ = np.searchsorted(l.docs, lo), np.searchsorted(l.docs, hi)
        if a == b_:
            continue
        sc = l.qtf * bm25_np(l.tfs[a:b_], l.dls[a:b_], l.idf, stats.avgdl, cfg.k1, cfg.b)
        slices.setdefault(l.term, []).append((l.docs[a:b_], sc))
        # several light rows of one term (one per generation) hold
        # disjoint docs -> per-term bound is the max over rows
        term_slice_max[l.term] = max(term_slice_max.get(l.term, 0.0), float(sc.max()))
    light_ub = sum(term_slice_max.values())
    # range-level screen before any decode
    rows_ub = sum(
        qtf * max(r["row_ub"] for r in rows[t]) for t, qtf, _ in qmeta if t in rows
    )
    if rows_ub + light_ub < theta:
        if ctr is not None:
            ctr["ranges_pruned"] += 1
        return np.zeros(0, np.int64), np.zeros(0, np.float64)

    # (docs in [lo, hi), row position of the first) per view
    spans = {
        t: [_span_docs(r, lo, hi, cfg.block_size) for r in rs] for t, rs in rows.items()
    }
    cand = np.unique(
        np.concatenate(
            [d for sp in spans.values() for d, _ in sp]
            + [s[0] for lst in slices.values() for s in lst]
        )
    )
    if tomb is not None and len(tomb):
        # tombstoned docs leave the candidate set BEFORE any bound or θ
        # is derived — a deleted doc must neither appear in results nor
        # inflate θ. Light slices are already tombstone-free (masked at
        # LightList construction).
        from dawnsearch_spark.operators.merge import _tombstone_mask

        cand = cand[_tombstone_mask(cand, tomb)]
    if not len(cand):
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    # per-doc upper bound: for each view holding the doc, the max of the
    # block holding it (0 from views that do not hold it); exact for
    # light slices. A term's views hold disjoint docs, so at most one of
    # them sets a doc's bound.
    ub = np.zeros(len(cand), np.float64)
    hits: dict[str, list[tuple]] = {}  # term -> [(view, member mask, row pos)]
    for t, qtf, _idf in qmeta:
        if t in rows:
            tub = np.zeros(len(cand), np.float64)
            for row, (docs_t, base) in zip(rows[t], spans[t]):
                if not len(docs_t):
                    continue
                pos = np.searchsorted(docs_t, cand)
                m = (pos < len(docs_t)) & (docs_t[np.minimum(pos, len(docs_t) - 1)] == cand)
                p = pos[m] + base
                tub[m] = row["block_ub"][p // cfg.block_size]
                hits.setdefault(t, []).append((row, m, p))
            ub += qtf * tub
        if t in slices:
            for sdocs, ssc in slices[t]:
                ub[np.searchsorted(cand, sdocs)] += ssc
    keep = ub >= theta
    if not keep.any():
        if ctr is not None:
            ctr["ranges_pruned"] += 1
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    surv = cand[keep]
    acc = np.zeros(len(surv), np.float64)
    if ctr is not None:
        ctr["postings_scored"] += int(len(surv))
    for t, qtf, idf in qmeta:  # ascending-term fold (rank determinism)
        for row, m, p in hits.get(t, ()):
            p = p[keep[m]]
            if not len(p):
                continue
            blocks = np.unique(p // cfg.block_size)
            tfdl = _decode_blocks_tf_dl(row, blocks, cfg.block_size, ctr)
            tf_v = np.empty(len(p), np.int64)
            dl_v = np.empty(len(p), np.int64)
            for b in blocks:
                sel = (p // cfg.block_size) == b
                off = p[sel] - b * cfg.block_size
                tf_v[sel] = tfdl[int(b)][0][off]
                dl_v[sel] = tfdl[int(b)][1][off]
            acc[m[keep]] += qtf * bm25_np(tf_v, dl_v, idf, stats.avgdl, cfg.k1, cfg.b)
        for sdocs, ssc in slices.get(t, ()):
            pos = np.searchsorted(surv, sdocs)
            m = (pos < len(surv)) & (surv[np.minimum(pos, len(surv) - 1)] == sdocs)
            acc[pos[m]] += ssc[m]
    return surv, acc


def _group_rows_by_range(
    rows, qmeta, stats: CorpusStats, cfg: EngineConfig
) -> dict[int, dict[str, list[dict]]]:
    """range_id -> term -> [bound-attached row views] for the walk.

    A view is the row dict plus its block span ``[b0, b1)`` and a
    ``row_ub`` that is the span's max block bound. A range row is one view
    of all its blocks. A light row enters every doc-range its blocks
    meet: block b holds docs in ``[first_b, block_last[b]]`` with
    ``first_b > block_last[b-1]``, so ``searchsorted`` on those ends
    finds each range's span without decoding anything but the row's first
    docID. Views share the row's compressed blobs."""
    idf_by_term = {t: idf for t, _qtf, idf in qmeta}
    R = cfg.range_size
    by_range: dict[int, dict[str, list[dict]]] = {}
    for r in rows:
        rd = _attach_bounds(_row_to_dict(r), idf_by_term[r["term"]], stats, cfg)
        last = rd["block_last"]
        if rd["range_id"] >= 0:
            rd["b0"], rd["b1"] = 0, len(last)
            views = [(rd["range_id"], rd)]
        else:
            first = np.concatenate(([_first_doc(rd)], last[:-1] + 1))
            rids = np.arange(first[0] // R, last[-1] // R + 1)
            b0s = np.searchsorted(last, rids * R)
            b1s = np.searchsorted(first, (rids + 1) * R)
            views = []
            for rid, b0, b1 in zip(rids.tolist(), b0s.tolist(), b1s.tolist()):
                if b1 > b0:
                    ub = float(rd["block_ub"][b0:b1].max())
                    views.append((rid, dict(rd, b0=b0, b1=b1, row_ub=ub)))
        for rid, v in views:
            by_range.setdefault(rid, {}).setdefault(rd["term"], []).append(v)
    return by_range


def _score_ranges(
    by_range: dict[int, dict[str, list[dict]]],
    lights: list[LightList],
    qmeta: list[tuple[str, float, float]],
    theta0: float,
    k: int,
    stats: CorpusStats,
    cfg: EngineConfig,
    ctr: dict,
    tomb: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The block-max walk: visit doc-ranges in descending upper-bound
    order so θ rises fast from ``theta0`` (reference analog: local top-k
    first, then a pruned merge, search_service.rs:201-236). Per term the
    range bound is the MAX over its row views (disjoint doc sets), never
    the sum. ``tomb`` is the sorted tombstoned docID array. Returns the
    surviving (scores, doc_ids), best first; it holds the top-k exactly.

    Memory: the compressed rows (held by the caller) plus one range's
    decoded doc blocks and surviving tf/dl blocks at a time, and at most
    ~4k retained survivors."""
    import heapq

    theta = theta0
    # survivors accumulate as (scores, docs) array chunks; ordering and
    # truncation run vectorized (lexsort on (-score, doc) — the exact
    # final tie rule) instead of per-tuple key lambdas
    chunks: list[tuple[np.ndarray, np.ndarray]] = []
    n_found = 0
    # min-heap of the k best scores seen so far: θ = heap root, updated in
    # O(log k) per survivor instead of a full sort per range
    heap: list[float] = []

    def _best(limit: int | None) -> tuple[np.ndarray, np.ndarray]:
        s = np.concatenate([c[0] for c in chunks]) if chunks else np.zeros(0)
        d = (
            np.concatenate([c[1] for c in chunks])
            if chunks
            else np.zeros(0, np.int64)
        )
        idx = np.lexsort((d, -s))
        if limit is not None:
            idx = idx[:limit]
        return s[idx], d[idx]

    order = sorted(
        by_range.items(),
        key=lambda kv: -sum(
            qtf * max(r["row_ub"] for r in kv[1][t])
            for t, qtf, _ in qmeta
            if t in kv[1]
        ),
    )
    for range_id, rows in order:
        lo = range_id * cfg.range_size
        hi = lo + cfg.range_size
        surv, acc = _score_one_range(
            lo, hi, rows, lights, qmeta, theta, stats, cfg, ctr, tomb
        )
        if len(surv):
            chunks.append((acc, surv))
            n_found += len(surv)
            for fs in acc.tolist():
                if len(heap) < k:
                    heapq.heappush(heap, fs)
                elif fs > heap[0]:
                    heapq.heapreplace(heap, fs)
        if n_found > 4096:
            # bound memory only — retaining the best 4k by the final key
            # keeps the top-k set exact regardless of truncation schedule
            s, d = _best(4 * k)
            chunks = [(s, d)]
            n_found = len(s)
        if len(heap) >= k and heap[0] > theta:
            theta = heap[0]
    return _best(None)


def search_index(
    index_root: str,
    query: str | dict[str, float],
    cfg: EngineConfig,
    k: int | None = None,
    stats: CorpusStats | None = None,
    counters: dict | None = None,
    meta_by_term=None,
    cache: "PostingListCache | None" = None,
    tombstones: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for a query string or a {term: weight} bag.

    Gathers ``top_k_internal`` candidates internally and returns ``k``
    (reference: internal k=20, displayed 10 — search_provider.rs:214,
    examples_old/search.rs:55-63). Launches no Spark job.

    ``cfg.max_driver_postings`` is the one switch. A query whose total
    postings (Σ ``n_docs`` over its rows, light and range alike) fit it
    takes the driver path — the reference's local-search-first shape:
    every term's whole list, from ``cache`` or one segment read, decoded
    and scored exactly. Any larger query takes the block-max walk: light
    lists are decoded whole smallest-first under the budget (they seed
    θ0), and every other row of the query's terms is read once,
    compressed, and walked range by range (:func:`_score_ranges`). Driver
    memory above the budget is then the budgeted light lists, the
    compressed rows, and one range's decoded blocks — no list above the
    budget is ever decoded whole.

    ``tombstones``: sorted docIDs to exclude. ``counters``: pass a dict to
    receive per-search observability counters (see :func:`new_counters`)
    — the reference's servers_contacted / pages_searched analog
    (search_provider.rs:44-59).
    """
    ctr = counters if counters is not None else new_counters()
    for key, v in new_counters().items():
        ctr.setdefault(key, v)
    if tombstones is not None and not len(tombstones):
        tombstones = None
    ctr["tombstones"] = int(len(tombstones)) if tombstones is not None else 0
    k_out = k or cfg.top_k
    k = max(k_out, cfg.top_k_internal)
    paths = IndexPaths(index_root)
    stats = stats if stats is not None else load_stats(index_root)
    if isinstance(query, str):
        bag = Counter(tokenize_py(query))
    else:
        # float weights are Lucene-style boosts; they flow
        # multiplicatively through every scoring and bound path
        bag = {t: float(w) for t, w in query.items()}
    terms = sorted(bag)
    ctr["terms"] = len(terms)
    if not terms:
        return []
    buckets = sorted({_term_bucket(t, cfg.num_term_buckets) for t in terms})
    from dawnsearch_spark.index_build import (
        gen_ids_with_rows,
        segment_generations,
    )
    from dawnsearch_spark.operators.segment_reader import (
        META_COLUMNS,
        read_segment_rows,
    )

    # manifest-listed generation dirs only (a compaction crash may leave
    # unlisted garbage dirs — serving must never double-read postings)
    gens = gen_ids_with_rows(segment_generations(index_root))

    def _fetch(columns=None, range_id=None, only_terms=None) -> list[dict]:
        """Pruned segment rows as plain dicts: a direct pyarrow read of
        the pruned bucket files on the driver (reference S7 — in-process
        segment scan, document_embeddings.rs:17-54), zero Spark jobs."""
        want = terms if only_terms is None else sorted(only_terms)
        return read_segment_rows(
            paths.segments, buckets, want, columns=columns, range_id=range_id,
            gens=gens,
        )

    # ---- metadata-only plan (column-pruned: no blobs leave the scan) ----
    # ``meta_by_term`` (the Engine's driver-resident term dictionary)
    # replaces the planning read entirely when the dictionary fits driver
    # RAM; otherwise this is one cheap column-pruned fetch.
    if meta_by_term is not None:
        meta = [m for t in terms for m in meta_by_term.get(t, ())]
    else:
        meta = _fetch(columns=META_COLUMNS)
    light_meta = [r for r in meta if int(r["range_id"]) == -1]
    heavy_meta = [r for r in meta if int(r["range_id"]) >= 0]
    ctr["heavy_rows"] = len(heavy_meta)
    budget = cfg.max_driver_postings

    # idf inputs: global df per term = sum of n_docs over ALL the term's
    # segment rows — ranges partition the doc space and generations hold
    # disjoint doc sets, so the sum is exact under incremental appends
    # (rows are stats-free; nothing stored goes stale)
    term_df: dict[str, int] = {}
    for r in meta:
        term_df[r["term"]] = term_df.get(r["term"], 0) + int(r["n_docs"])
    qmeta = [
        (t, bag[t], float(idf_np(float(term_df[t]), float(stats.n_docs))))
        for t in terms
        if t in term_df
    ]
    idf_by_term = {t: idf for t, _qtf, idf in qmeta}

    cache_base = (cache.hits, cache.misses) if cache is not None else (0, 0)

    def _term_lists(wanted: list[str]) -> list[LightList]:
        """Whole posting lists of the given terms, one merged docID-sorted
        list per term whatever its layout, through the Engine's LRU when
        present: cache hits skip both the segment fetch and the decode
        (driver_postings_decoded counts ACTUAL decodes, so repeated
        serving terms show up as zero decode). Counters report THIS
        search's hits/misses (delta vs the cache's running totals)."""
        got: dict[str, tuple] = {}
        missing: list[str] = []
        for t in wanted:
            cached = cache.get(t) if cache is not None else None
            if cached is None:
                missing.append(t)
            else:
                got[t] = cached
        if missing:
            # looked up per call, not bound at import: callers may wrap it
            from dawnsearch_spark.functions.codec import decode_all_postings

            parts: dict[str, list[tuple]] = {}
            for r in _fetch(only_terms=missing):
                parts.setdefault(r["term"], []).append(
                    decode_all_postings(r, cfg.block_size)
                )
                ctr["driver_postings_decoded"] += int(r["n_docs"])
            for t, ps in parts.items():
                # generation and range rows hold disjoint doc sets, so a
                # stable sort of the concatenation is the term's full
                # docID-ascending posting list
                if len(ps) == 1:
                    got[t] = ps[0]
                else:
                    cat = [np.concatenate([p[i] for p in ps]) for i in range(3)]
                    order = np.argsort(cat[0], kind="stable")
                    got[t] = tuple(c[order] for c in cat)
                if cache is not None:
                    cache.put(t, got[t], len(got[t][0]))
        if cache is not None:
            ctr["light_cache_hits"] = cache.hits - cache_base[0]
            ctr["light_cache_misses"] = cache.misses - cache_base[1]
        out = []
        for t in wanted:
            docs, tfs, dls = got[t]
            if tombstones is not None:
                # the cache holds UNMASKED arrays — they match the
                # immutable segment rows; masking is per-query state
                from dawnsearch_spark.operators.merge import _tombstone_mask

                m = _tombstone_mask(docs, tombstones)
                if not m.all():
                    docs, tfs, dls = docs[m], tfs[m], dls[m]
            out.append(LightList(t, bag[t], idf_by_term[t], docs, tfs, dls))
        return out

    light_terms = {r["term"] for r in light_meta}
    if sum(term_df.values()) <= budget:
        # driver path (reference's local-search-first, E1 step 3): exact
        # TAAT over WHOLE lists instead of the block-max range walk. When
        # every posting fits driver RAM the WAND machinery (per-range
        # candidate building, block-bound screens, lazy per-block tf/dl
        # decodes) is pure overhead — profiled at ~190 range iterations
        # and ~1k small varbyte calls per query at 200k docs, ~50x the
        # cost of one vectorized ascending-term accumulation over the same
        # postings. The block-max walk below carries the queries that
        # outgrow the driver budget.
        ctr["path"] = "driver"
        ctr["light_terms_driver"] = len(light_terms)
        lists = _term_lists([t for t, _qtf, _idf in qmeta])
        ctr["postings_scored"] += int(sum(len(l.docs) for l in lists))
        ldocs, lscores = _exact_light_scores(lists, stats, cfg)
        return _topk_unique(ldocs, lscores, k)[:k_out]

    # ---- block-max walk ----
    ctr["path"] = "block_max"
    # driver-resident light lists: smallest TERM first, under the budget.
    # A term with range rows too is walked (overflow) with all its rows:
    # a cached list is a term's WHOLE list, never a part of one.
    heavy_terms = {r["term"] for r in heavy_meta}
    driver_terms: list[str] = []
    overflow_terms = sorted(light_terms & heavy_terms)
    cum = 0
    for t in sorted(light_terms - heavy_terms, key=lambda t: (term_df[t], t)):
        if cum + term_df[t] <= budget:
            cum += term_df[t]
            driver_terms.append(t)
        else:
            overflow_terms.append(t)
    ctr["light_terms_driver"] = len(driver_terms)
    ctr["light_terms_overflow"] = len(overflow_terms)
    lights = _term_lists(driver_terms)
    ldocs, lscores = _exact_light_scores(lights, stats, cfg)
    theta0 = 0.0
    if len(lscores) >= k:
        theta0 = float(np.partition(lscores, -k)[-k])
    ctr["theta_seed"] = theta0
    # every other row of the query's terms, compressed, in one read
    walk_rows = _fetch(only_terms=heavy_terms | set(overflow_terms))
    by_range = _group_rows_by_range(walk_rows, qmeta, stats, cfg)
    wscores, wdocs = _score_ranges(
        by_range, lights, qmeta, theta0, k, stats, cfg, ctr, tombstones
    )
    return _topk_merge(
        np.concatenate([ldocs, wdocs]), np.concatenate([lscores, wscores]), k
    )[:k_out]
