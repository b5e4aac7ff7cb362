"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Reference analog: the only dedup in the reference is exact-key
(URL-existence check before insert,
/root/reference/src/search/search_provider.rs:253-263, backed by the
``find_by_url`` index :94-99) and result-id dedup in the top-k accumulator
(/root/reference/src/search/best_results.rs:45-58). The near-dup family is
the large-corpus extension a training-data pipeline needs (task brief);
everything is expressed with native Spark ops (shingling, hashing, band
join) — no Python in the candidate-generation hot path.

Scale notes: exact + fingerprint dedup are one hash-aggregate;
shared-shingle and LSH candidate pairs are self-equi-joins on a hash key
(AQE-skew-join tolerant); pair verification only touches candidate pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dawnsearch_spark.operators.text_analysis import normalized_fingerprint

#: default skew guards for candidate generation. A single ubiquitous
#: shingle / degenerate band bucket otherwise produces a quadratic
#: candidate self-join (the 100-TB scale-killer): a bucket of B members
#: emits B^2/2 candidate pairs. Buckets above the cap emit a spanning
#: CHAIN of id-adjacent pairs (O(B)) instead — giant duplicate clusters
#: stay connected for keeper selection without the quadratic join.
DEFAULT_MAX_SHINGLE_DF = 1000
DEFAULT_MAX_BAND_BUCKET = 500

MINHASH_SEED = 0x5EED

#: Sub-cap shingle-instance budget for the DRIVER-ORCHESTRATED exact
#: intersection counter in :func:`jaccard_pairs_exact`: under the budget
#: the (doc, shingle) incidence is collected once (hashed shingle ids, a
#: collision-checked few-dozen-MB columnar table), the CSR/CSC layout is
#: broadcast, and executors count per-pair intersections with C-level
#: ``bincount`` gathers — Θ(Σ df²) integer adds with NO Σ df² row shuffle
#: (the shuffle was ~100x the arithmetic at 50k docs on a Zipf corpus).
#: Over the budget the original self-join + count aggregation runs
#: unchanged. Scale-dependent, so env-overridable.
DEDUP_DRIVER_MAX_POSTINGS = int(
    __import__("os").environ.get("DAWNSEARCH_SPARK_DEDUP_DRIVER_POSTINGS", 30_000_000)
)


def capped_pair_candidates(
    rows: DataFrame,
    keys: list[str],
    cap: int | None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct (id_a, id_b[, <c>_a, <c>_b...]) candidate pairs from a
    bucket-keyed relation (columns: ``_id``, *keys*, *extra_cols*).

    Skew-capped generation: buckets with <= ``cap`` members emit ALL pairs
    (self-equi-join); larger buckets emit a SPANNING MULTI-CHAIN of
    id-ordered pairs at strides 1 AND 2 — O(2B) pairs instead of O(B^2) —
    so a giant near-duplicate cluster (boilerplate: the primary dedup
    target, which collides in EVERY band and would otherwise oversize
    every one of its buckets) stays reachable through verified links for
    connected-components keeper selection, instead of silently emitting
    zero pairs. The stride-2 links make the component robust to any
    SINGLE failed downstream verification (Jaccard threshold / hamming
    cap): if the (i, i+1) link fails, (i-1, i+1) still bridges it.
    Connectivity is guaranteed only up to one failed link per position —
    two consecutive failed links can still split the component (the exact
    guarantee needs all-pairs, which is what the cap exists to avoid).
    The chain costs one window shuffle over only the oversized-bucket
    rows.
    """
    from pyspark.sql import Window

    def pair_select(joined):
        cols = [
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
        ]
        for c in extra_cols:
            cols.append(F.col(f"a.{c}").alias(f"{c}_a"))
            cols.append(F.col(f"b.{c}").alias(f"{c}_b"))
        return joined.filter(F.col("a._id") < F.col("b._id")).select(*cols)

    if cap is None:
        return pair_select(rows.alias("a").join(rows.alias("b"), keys)).distinct()

    counts = rows.groupBy(*keys).count()
    big_keys = counts.filter(F.col("count") > cap).select(*keys)
    ok = rows.join(F.broadcast(big_keys), keys, "left_anti")
    pairs = pair_select(ok.alias("a").join(ok.alias("b"), keys))

    big_rows = rows.join(F.broadcast(big_keys), keys, "left_semi")
    w = Window.partitionBy(*keys).orderBy("_id")
    chain = big_rows
    for stride in (1, 2):
        chain = chain.withColumn(f"_prev{stride}_id", F.lag("_id", stride).over(w))
        for c in extra_cols:
            chain = chain.withColumn(f"_prev{stride}_{c}", F.lag(c, stride).over(w))
    stride_pairs = []
    for stride in (1, 2):
        chain_cols = [
            F.col(f"_prev{stride}_id").alias("id_a"),
            F.col("_id").alias("id_b"),
        ]
        for c in extra_cols:
            chain_cols.append(F.col(f"_prev{stride}_{c}").alias(f"{c}_a"))
            chain_cols.append(F.col(c).alias(f"{c}_b"))
        stride_pairs.append(
            chain.filter(F.col(f"_prev{stride}_id").isNotNull()).select(*chain_cols)
        )
    chain_pairs = stride_pairs[0].unionByName(stride_pairs[1])
    return pairs.unionByName(chain_pairs).distinct()


# ---------- exact ----------

def exact_duplicate_groups(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, n_dups, keep_id): groups of byte-near-identical docs
    (normalized md5), keeper = smallest id (J2/F11 analog)."""
    return (
        df.select(F.col(id_col), normalized_fingerprint(col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest-id doc per normalized fingerprint."""
    w = df.select(F.col(id_col), normalized_fingerprint(col).alias("fingerprint"))
    keep = w.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "left_semi")


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Training-data decontamination: per-document count of distinct
    n-word shingles shared with ANY benchmark text, plus a contaminated
    flag (overlap >= ``min_overlap``).

    Spark shape (100-TB thinking): the benchmark suite is tiny next to the
    corpus, so its distinct shingles are BROADCAST; the corpus explodes
    its shingles once and probes the broadcast hash set — no shuffle of
    the corpus, all expressions native Columns (whole-stage codegen).
    Documents shorter than one shingle emit overlap 0, not nothing.
    """
    # shingling runs in the Arrow pass (shingle_sets), not the JVM
    # transform/slice chain: the JVM formulation is O(len^2)-ish per doc
    # (array slice per element) and allocation-bound on top (measured 9.2s
    # vs ~2s at sf0.1 for this op alone)
    bench = (
        shingle_sets(benchmark, col, id_col, n)
        .select(F.explode("_sh").alias("shingle"))
        .distinct()
    )
    doc_sh = shingle_sets(docs, col, id_col, n).select(
        F.col("_id").alias(id_col), F.explode("_sh").alias("shingle")
    )
    # per-doc shingles are already distinct (word_shingles dedups), so
    # count(*) after the semi-ish inner join = distinct shared shingles
    hits = (
        doc_sh.join(F.broadcast(bench), "shingle", "inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("overlap_shingles"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .withColumn(
            "overlap_shingles", F.coalesce(F.col("overlap_shingles"), F.lit(0))
        )
        .withColumn(
            "contaminated",
            (F.col("overlap_shingles") >= F.lit(min_overlap)).cast("int"),
        )
    )


# ---------- shingles + n-gram Jaccard ----------

def _pair_intersections_driver(
    ok: DataFrame,
    counts: DataFrame,
    prof: DataFrame,
    threshold: float,
    max_shingle_df: int,
    persist_handles: list | None = None,
) -> DataFrame | None:
    """Exact per-pair shared-sub-cap-shingle counts ``(id_a, id_b, _c)``
    without the Σ df² candidate-row shuffle, for budget-sized corpora.

    The self-join + count aggregation materializes one shuffled row per
    (pair, shared shingle) — Θ(Σ df²) rows through the exchange, which on
    a Zipf shared-vocabulary corpus grows ~quadratically with corpus size
    and dominated the near-dup clustering wall time (guide §2.3: shuffle
    keys/metadata, never payload-scale row sets, when the decision fits a
    broadcast). Here the Θ(Σ df²) work is kept but moved into C:

      1. the sub-cap (doc, shingle-hash) incidence is collected ONCE
         (collision-checked xxhash64 ids — if two distinct shingles ever
         collided, which a one-aggregate exact check rules out, we fall
         back), a few bytes per instance;
      2. the driver builds the CSR (doc -> shingle ids) + CSC (shingle ->
         dense doc ids) layout and broadcasts it (~16 bytes/instance);
      3. executors scan disjoint doc chunks: per doc, one concatenated
         posting gather + one ``bincount`` yields the exact intersection
         size with EVERY other doc; pairs are emitted only when
         ``inter_sub + min(|oc_a|, |oc_b|) >= t/(1+t) * (|A| + |B|)``
         (with a 1e-6 slack for the round-to-6 output filter) — an upper
         bound on the pair's achievable Jaccard, so no pair that could
         pass the final exact filter is dropped: for a dropped pair,
         true inter = inter_sub + inter_over <= inter_sub + min(|oc|)
         < t_eff/(1+t_eff)·(|A|+|B|) implies true J < t_eff, and the
         chain-linked over-cap pairs still enter the downstream union
         with their exact over-cap intersection added there.

    Returns None when the incidence exceeds ``DEDUP_DRIVER_MAX_POSTINGS``
    (the distributed aggregation handles any scale), when the index of
    shingle hashes is not collision-free, or when the session cannot
    broadcast (never happens in practice; defensive).
    """
    from collections.abc import Iterator

    spark = ok.sparkSession
    c = F.col("count")
    sub = F.when(c <= max_shingle_df, True)
    stats_row = counts.agg(
        F.sum(F.when(c <= max_shingle_df, c)).alias("nnz"),
        F.count(sub).alias("n_sh"),
        F.countDistinct(
            F.when(c <= max_shingle_df, F.xxhash64("_s"))
        ).alias("n_hash"),
    ).collect()[0]
    nnz = int(stats_row["nnz"] or 0)
    if nnz == 0 or nnz > DEDUP_DRIVER_MAX_POSTINGS:
        return None
    if int(stats_row["n_sh"]) != int(stats_row["n_hash"]):
        return None  # astronomically unlikely 64-bit collision: exact fallback
    inc = ok.select("_id", F.xxhash64("_s").alias("_h")).toPandas()
    docs_raw = inc["_id"].to_numpy(np.int64)
    hashes = inc["_h"].to_numpy(np.int64)
    orig_ids, did = np.unique(docs_raw, return_inverse=True)
    _, sid = np.unique(hashes, return_inverse=True)
    n_rows = len(orig_ids)
    # CSC: postings (dense doc ids) per shingle, shingle-major order
    order = np.argsort(sid, kind="stable")
    post_docs = did[order].astype(np.int32)
    post_off = np.zeros(sid.max() + 2, np.int64)
    np.cumsum(np.bincount(sid), out=post_off[1:])
    # CSR: shingle ids per doc
    order_d = np.argsort(did, kind="stable")
    doc_sids = sid[order_d].astype(np.int64)
    doc_off = np.zeros(n_rows + 1, np.int64)
    np.cumsum(np.bincount(did, minlength=n_rows), out=doc_off[1:])
    # per-doc |A| and |oc| aligned to the dense ids (docs outside the
    # matrix — all-over-cap or shingle-free — only ever pair via chains)
    pp = prof.select(
        "_id",
        "_n_sh",
        F.coalesce(F.size("_oc"), F.lit(0)).alias("_oc_n"),
    ).toPandas()
    n_sh_arr = np.zeros(n_rows, np.int64)
    oc_len = np.zeros(n_rows, np.int64)
    ppos = np.searchsorted(orig_ids, pp["_id"].to_numpy(np.int64))
    inmat = (ppos < n_rows) & (
        orig_ids[np.minimum(ppos, n_rows - 1)] == pp["_id"].to_numpy(np.int64)
    )
    n_sh_arr[ppos[inmat]] = pp["_n_sh"].to_numpy(np.int64)[inmat]
    ocv = np.maximum(pp["_oc_n"].to_numpy(np.int64), 0)  # legacy size(null) = -1
    oc_len[ppos[inmat]] = ocv[inmat]
    t_eff = max(float(threshold) - 1e-6, 0.0)
    bc = spark.sparkContext.broadcast(
        (post_docs, post_off, doc_sids, doc_off, orig_ids, n_sh_arr, oc_len)
    )
    if persist_handles is not None:
        # the CSR/CSC broadcast is ~16 B/instance (up to ~480 MB at the
        # budget cap) — hand it to the caller's release hook like the
        # persisted relations, or repeated calls in one session accumulate
        # executor copies (Broadcast.unpersist shares the handle protocol)
        persist_handles.append(bc)
    chunk = max(64, n_rows // (spark.sparkContext.defaultParallelism * 4) + 1)
    n_chunks = (n_rows + chunk - 1) // chunk

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p_docs, p_off, d_sids, d_off, oids, nsh, ocl = bc.value
        for pdf in batches:
            for cid in pdf["id"].to_numpy():
                lo, hi = int(cid) * chunk, min((int(cid) + 1) * chunk, n_rows)
                out_a, out_b, out_c = [], [], []
                for d in range(lo, hi):
                    s0, s1 = d_off[d], d_off[d + 1]
                    if s0 == s1:
                        continue
                    parts = [
                        p_docs[p_off[s] : p_off[s + 1]]
                        for s in d_sids[s0:s1]
                    ]
                    cnt = np.bincount(
                        np.concatenate(parts), minlength=n_rows
                    )
                    nz = np.flatnonzero(cnt[d + 1 :])
                    if not len(nz):
                        continue
                    b = nz + d + 1
                    inter = cnt[b]
                    keep = (inter + np.minimum(ocl[d], ocl[b])) * (
                        1.0 + t_eff
                    ) >= t_eff * (nsh[d] + nsh[b]) - 1e-9
                    if not keep.any():
                        continue
                    bk = b[keep]
                    out_a.append(np.full(len(bk), oids[d], np.int64))
                    out_b.append(oids[bk])
                    out_c.append(inter[keep].astype(np.int64))
                if out_a:
                    yield pd.DataFrame(
                        {
                            "id_a": np.concatenate(out_a),
                            "id_b": np.concatenate(out_b),
                            "_c": np.concatenate(out_c),
                        }
                    )

    return (
        spark.range(0, n_chunks, 1, numPartitions=n_chunks)
        .mapInPandas(gen, "id_a long, id_b long, _c long")
    )

def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct, sorted n-word shingles of the lowercased text."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(F.trim(c)), r"\s+")
    shingles = F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )
    return F.array_sort(F.array_distinct(shingles))


def jaccard_pairs_exact(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n: int = 3,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    persist_handles: list | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for every pair with shingle-Jaccard >= threshold.

    Candidates come from a self-equi-join on exploded shingles (any pair
    with J > 0 shares >= 1 shingle). Skew guard: shingles with more than
    ``max_shingle_df`` occurrences emit a spanning CHAIN of id-adjacent
    candidates instead of all O(df^2) pairs (an uncapped shingle self-join
    is quadratic in the df of the most common shingle — the 100-TB
    scale-killer). Precision is always exact (every output pair is
    verified); with the default cap, recall is exact for any pair sharing
    >= 1 sub-cap shingle, and pairs of an over-cap cluster remain
    reachable through the verified chain links (connected components)
    rather than exhaustively enumerated. Pass ``max_shingle_df=None`` for
    the fully-exhaustive small-corpus oracle behavior. ``persist_handles``:
    see :func:`minhash_lsh_pairs`.

    Execution shape (the COUNT-BASED verification): the candidate pairs of
    a Zipf corpus number in the hundreds of millions, so materializing the
    distinct pair set and joining the (KB-sized) shingle arrays onto every
    pair twice shuffles tens of GB of array payload. Instead the exact
    intersection size is AGGREGATED from the shingle self-join directly —
    ``|A ∩ B| = count of shared sub-cap shingles + |overcap(A) ∩
    overcap(B)|`` — so the only wide operation is a count aggregate over
    narrow (id_a, id_b) rows with map-side partial combine, and the
    per-doc scalars (|A|, the small over-cap membership array) ride in on
    a broadcast join: ``|A ∪ B| = |A| + |B| − |A ∩ B|``. Per-pair Jaccard
    values are bit-identical to the array formulation (same integer
    inputs, same single float divide, same round)."""
    from pyspark.storagelevel import StorageLevel

    base = shingle_sets(df, col, id_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    if persist_handles is not None:
        persist_handles.append(base)
    ex = base.select("_id", F.explode("_sh").alias("_s"))
    if max_shingle_df is None:
        # fully-exhaustive small-corpus oracle path: all pairs, array verify
        cand = capped_pair_candidates(ex, ["_s"], None)
        return verified_jaccard_pairs(cand, base, threshold)

    # the shingle-df relation feeds four consumers (the budget/collision
    # stats, the over-cap set's anti- and semi-joins, and the chain
    # window): persist it or each action re-runs the explode + groupBy
    counts = ex.groupBy("_s").count().persist(StorageLevel.MEMORY_AND_DISK)
    if persist_handles is not None:
        persist_handles.append(counts)
    big = counts.filter(F.col("count") > max_shingle_df).select("_s")
    ok = ex.join(F.broadcast(big), ["_s"], "left_anti")
    # exact shared-sub-cap-shingle count per pair. Preferred execution: the
    # driver-orchestrated broadcast intersection counter (sub_rows = one
    # (id_a, id_b, inter_sub) row per surviving candidate pair) — Θ(Σ df²)
    # C-level adds with no Σ df² row shuffle, and a θ-style lower bound
    # applied in-task so only pairs that can still reach the threshold are
    # ever emitted (provably no false eliminations — see
    # _pair_intersections_driver). Fallback (over budget / hash collision):
    # the self-join whose output flows straight into a partial-aggregated
    # sum — no distinct, no arrays.
    # Chain pairs (the over-cap spanning links, strides 1 and 2 over the
    # id-ordered bucket — same links as capped_pair_candidates) enter the
    # SAME aggregation as zero-count rows: they register candidacy without
    # inflating the intersection, and chain duplicates are absorbed by the
    # sum — one aggregation pass covers the whole candidate set.
    from pyspark.sql import Window

    big_rows = ex.join(F.broadcast(big), ["_s"], "left_semi")
    w = Window.partitionBy("_s").orderBy("_id")
    chain = big_rows.withColumn("_prev1_id", F.lag("_id", 1).over(w)).withColumn(
        "_prev2_id", F.lag("_id", 2).over(w)
    )
    chain_rows = (
        chain.filter(F.col("_prev1_id").isNotNull())
        .select(F.col("_prev1_id").alias("id_a"), F.col("_id").alias("id_b"))
        .unionByName(
            chain.filter(F.col("_prev2_id").isNotNull()).select(
                F.col("_prev2_id").alias("id_a"), F.col("_id").alias("id_b")
            )
        )
        .withColumn("_c", F.lit(0).cast("long"))
    )
    # per-doc scalars: |A| and the (small) over-cap membership list — the
    # full intersection adds the shared over-cap shingles back in
    oc = big_rows.groupBy("_id").agg(F.collect_set("_s").alias("_oc"))
    prof = base.select("_id", F.size("_sh").alias("_n_sh")).join(oc, "_id", "left")
    sub_rows = _pair_intersections_driver(
        ok, counts, prof, threshold, max_shingle_df, persist_handles
    )
    if sub_rows is None:  # over budget / remote / hash-collision: self-join
        sub_rows = (
            ok.alias("a")
            .join(ok.alias("b"), "_s")
            .filter(F.col("a._id") < F.col("b._id"))
            .select(
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                F.lit(1).cast("long").alias("_c"),
            )
        )
    cand = (
        sub_rows.unionByName(chain_rows)
        .groupBy("id_a", "id_b")
        .agg(F.sum("_c").alias("inter_sub"))
    )
    pa = prof.select(
        F.col("_id").alias("id_a"),
        F.col("_n_sh").alias("_n_a"),
        F.col("_oc").alias("_oc_a"),
    )
    pb = prof.select(
        F.col("_id").alias("id_b"),
        F.col("_n_sh").alias("_n_b"),
        F.col("_oc").alias("_oc_b"),
    )
    inter_over = F.when(
        F.col("_oc_a").isNotNull() & F.col("_oc_b").isNotNull(),
        F.size(F.array_intersect("_oc_a", "_oc_b")),
    ).otherwise(F.lit(0))
    return (
        cand.join(F.broadcast(pa), "id_a")
        .join(F.broadcast(pb), "id_b")
        .withColumn("inter", (F.col("inter_sub") + inter_over).cast("int"))
        .withColumn("uni", (F.col("_n_a") + F.col("_n_b") - F.col("inter")).cast("int"))
        .withColumn("jaccard", F.round(F.col("inter").cast("double") / F.col("uni"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------- MinHash + LSH ----------

def _minhash_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Universal-hash family h_j(x) = a_j * x + b_j over Z_2^64 (odd a_j)."""
    rng = np.random.default_rng(seed)
    a = (rng.integers(1, 2**62, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    return a, b


def shingle_sets(df: DataFrame, col: str, id_col: str, n: int) -> DataFrame:
    """(_id, _sh): distinct n-word shingles per doc, empty docs dropped.

    Computed in ONE Arrow ``mapInPandas`` pass (flatten tokens -> shifted
    object-array joins -> C-level dedup), not with the JVM
    ``transform``/``array_sort`` chain of :func:`word_shingles` — profiled
    on this host, the JVM formulation spent 28s of a 34s MinHash run in
    shingling alone (allocation-bound; BASELINE.md). Tokenization matches
    ``word_shingles`` exactly: lower, trim, split on ASCII ``\\s+``.

    The input is spread across the cluster first: a small parquet source
    often arrives as ONE split, which would serialize shingling and every
    downstream signature UDF onto a single core."""
    import re
    from collections.abc import Iterator

    ws = re.compile(r"\s+", re.ASCII)  # JVM-regex \s is ASCII-only

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            toks = pdf["_txt"].str.lower().str.strip(" ").str.split(ws)
            ids = pdf["_id"].to_numpy(np.int64)
            # split() on a leading-empty string yields [''] — drop empties
            tok_arrays = [
                np.asarray([t for t in (lst or []) if t], dtype=object)
                for lst in toks
            ]
            lens = np.fromiter((len(a) for a in tok_arrays), np.int64, len(tok_arrays))
            keep = lens >= n
            if not keep.any():
                continue
            kid = ids[keep]
            klen = lens[keep]
            flat = np.concatenate([a for a, k in zip(tok_arrays, keep) if k])
            seg = np.repeat(np.arange(len(kid)), klen)
            m = len(flat) - (n - 1)
            sh = flat[:m].copy()
            for i in range(1, n):
                sh = sh + " "
                sh = sh + flat[i : m + i]
            valid = seg[:m] == seg[n - 1 :]
            pairs = pd.DataFrame({"s": seg[:m][valid], "sh": sh[valid]})
            pairs = pairs.drop_duplicates()  # order stays seg-grouped
            counts = np.bincount(pairs["s"].to_numpy(), minlength=len(kid))
            arrs = np.split(pairs["sh"].to_numpy(), np.cumsum(counts)[:-1])
            yield pd.DataFrame({"_id": kid, "_sh": arrs})

    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(F.col(id_col).alias("_id"), F.col(col).alias("_txt"))
        .repartition(parallelism)
        .mapInPandas(gen, "_id long, _sh array<string>")
    )


def minhash_band_rows(
    shingled: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = MINHASH_SEED,
) -> DataFrame:
    """(_id, band, bhash) LSH band rows from a (_id, _sh) shingle table.

    The whole signature matrix is computed in ONE vectorized NumPy pass per
    Arrow batch (flatten all shingles -> C-level string hash -> outer
    universal-hash -> segmented min), instead of ``bands x rows`` separate
    JVM ``transform``+``xxhash64`` array passes per document — the measured
    JVM-allocation pathology of this host (BASELINE.md) made that the
    slowest query in BENCH_r01; this formulation runs on the same Arrow
    substrate as the index-build hot path."""
    from collections.abc import Iterator

    num_hashes = bands * rows_per_band
    a_par, b_par = _minhash_params(num_hashes, seed)
    fnv_off = np.uint64(0xCBF29CE484222325)
    fnv_prime = np.uint64(0x100000001B3)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Work buffers are allocated ONCE and reused across batches/chunks:
        # fresh ~100 MB temporaries per chunk would bottleneck on
        # first-touch page faults (this host's measured pathology —
        # steady-state memory writes scale, concurrent fresh allocation
        # does not; BASELINE.md), which made the naive outer-product
        # formulation slower than the JVM path it replaced.
        chunk = 8
        buf: np.ndarray | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            sh_lists = pdf["_sh"].to_numpy()
            lens = np.fromiter((len(s) for s in sh_lists), np.int64, len(sh_lists))
            flat = np.concatenate([np.asarray(s, dtype=object) for s in sh_lists])
            h = pd.util.hash_array(flat, categorize=False).astype(np.uint64)
            starts = np.zeros(len(lens), np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            n_sh = len(h)
            if buf is None or buf.shape[0] < n_sh:
                buf = np.empty((n_sh, chunk), np.uint64)
            sig = np.empty((len(pdf), num_hashes), np.uint64)
            with np.errstate(over="ignore"):
                for j0 in range(0, num_hashes, chunk):
                    j1 = min(j0 + chunk, num_hashes)
                    view = buf[:n_sh, : j1 - j0]
                    np.multiply(h[:, None], a_par[None, j0:j1], out=view)
                    view += b_par[None, j0:j1]
                    sig[:, j0:j1] = np.minimum.reduceat(view, starts, axis=0)
                bh = np.empty((len(pdf), bands), np.uint64)
                for b in range(bands):
                    acc = np.full(len(pdf), fnv_off, np.uint64)
                    for r in range(rows_per_band):
                        acc = (acc ^ sig[:, b * rows_per_band + r]) * fnv_prime
                    bh[:, b] = acc
            yield pd.DataFrame(
                {
                    "_id": np.repeat(pdf["_id"].to_numpy(np.int64), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), len(pdf)),
                    "bhash": bh.reshape(-1).view(np.int64),
                }
            )

    return shingled.mapInPandas(gen, "_id long, band int, bhash long")


def verified_jaccard_pairs(
    cand: DataFrame, shingled: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of (id_a, id_b) candidate pairs against
    the shingle table — precision is exact regardless of how candidates
    were generated."""
    sh = shingled
    return (
        cand.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn("jaccard", F.round(F.col("inter").cast("double") / F.col("uni"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def band_candidates(
    band_rows: DataFrame, max_band_bucket: int | None = DEFAULT_MAX_BAND_BUCKET
) -> DataFrame:
    """Distinct (id_a, id_b) pairs colliding in >= 1 band bucket. Buckets
    larger than ``max_band_bucket`` emit a spanning chain of id-adjacent
    pairs instead of all O(B^2) — giant dup clusters stay connected
    without a quadratic self-join (see :func:`capped_pair_candidates`)."""
    return capped_pair_candidates(band_rows, ["band", "bhash"], max_band_bucket)


def minhash_lsh_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = MINHASH_SEED,
    max_band_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
    persist_handles: list | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) near-dup pairs via MinHash banding: docs whose
    signatures collide in >= 1 band become candidates; candidates are then
    verified with the exact shingle Jaccard (so output precision is exact;
    recall is the standard LSH S-curve at the chosen bands x rows).

    ``persist_handles``: the shingle/band intermediates are persisted
    (they feed multiple plan branches; without caching the signature UDFs
    re-run 3-5x). Pass a list to receive the persisted DataFrames and
    ``unpersist()`` them after consuming the result — in a long-lived
    session repeated calls otherwise accumulate cached blocks until
    eviction (use :func:`release_handles`)."""
    from pyspark.storagelevel import StorageLevel

    # Both intermediates feed multiple branches (band self-join = two
    # scans + the bucket-cap aggregate; verification joins the shingle
    # table twice): persist them or the shingling/signature UDFs re-run
    # 3-5x. At cluster scale these are the tables a pipeline would
    # materialize to storage (exactly what the oracle-checked contract
    # entry does by exporting them to parquet).
    shingled = shingle_sets(df, col, id_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    rows = minhash_band_rows(shingled, bands, rows_per_band, seed).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if persist_handles is not None:
        persist_handles += [shingled, rows]
    cand = band_candidates(rows, max_band_bucket)
    return verified_jaccard_pairs(cand, shingled, threshold)


def release_handles(persist_handles: list) -> None:
    """Unpersist every cached intermediate collected via a function's
    ``persist_handles`` parameter (call after a materializing action)."""
    for h in persist_handles:
        h.unpersist()
    persist_handles.clear()


# ---------- SimHash ----------

def simhash64(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash): 64-bit SimHash over whitespace tokens, ONE Arrow
    pass per batch — C-level token hashing + vectorized per-bit vote sums
    (chunked segmented reduceat over a REUSED buffer). Replaces the
    explode -> 64 JVM conditional-sum aggregates, which were both an
    allocation-heavy shuffle of every token row and this host's measured
    non-scaling path (BASELINE.md). Bit b of the signature is set when
    more than half the tokens have bit b set in their hash (the classic
    +/-1 vote majority). Empty docs are dropped; duplicate tokens vote
    once per occurrence, as before."""
    import re
    from collections.abc import Iterator

    ws = re.compile(r"\s+", re.ASCII)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunk = 8
        buf: np.ndarray | None = None
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            if not len(pdf):
                continue
            toks = pdf["_txt"].str.lower().str.strip(" ").str.split(ws).to_numpy()
            lens = np.fromiter(
                (len(x) if isinstance(x, list) else 0 for x in toks),
                np.int64,
                len(toks),
            )
            keep = lens > 0
            if not keep.any():
                continue
            ids = pdf["_id"].to_numpy(np.int64)[keep]
            klen = lens[keep]
            flat = np.asarray(
                [t for x in toks[keep] for t in x], dtype=object
            )  # flatten lists; tokens themselves untouched
            h = pd.util.hash_array(flat, categorize=False).astype(np.uint64)
            n = len(h)
            starts = np.zeros(len(klen), np.int64)
            np.cumsum(klen[:-1], out=starts[1:])
            if buf is None or buf.shape[0] < n:
                buf = np.empty((n, chunk), np.uint64)
            sig = np.zeros(len(ids), np.uint64)
            for j0 in range(0, 64, chunk):
                view = buf[:n]
                np.right_shift(h[:, None], shifts[None, j0 : j0 + chunk], out=view)
                view &= np.uint64(1)
                ones = np.add.reduceat(view, starts, axis=0)  # per-doc set-bit counts
                set_bits = (2 * ones) > klen[:, None]  # majority vote
                sig |= (set_bits.astype(np.uint64) << shifts[None, j0 : j0 + chunk]).sum(
                    axis=1, dtype=np.uint64
                )
            yield pd.DataFrame({"_id": ids, "simhash": sig.view(np.int64)})

    parallelism = df.sparkSession.sparkContext.defaultParallelism
    out = (
        df.select(F.col(id_col).alias("_id"), F.col(col).alias("_txt"))
        .repartition(parallelism)
        .mapInPandas(gen, "_id long, simhash long")
    )
    return out.withColumnRenamed("_id", id_col)


def simhash_bands(max_hamming: int) -> list[tuple[int, int]]:
    """(bit_offset, bit_width) spans splitting 64 bits into max_hamming + 1
    bands — by pigeonhole, any pair within the Hamming budget leaves at
    least one band untouched, so banding loses no recall for ANY
    max_hamming (<= 63), not just the 4x16 layout."""
    n_bands = max_hamming + 1
    if n_bands > 64:
        raise ValueError(f"max_hamming must be <= 63, got {max_hamming}")
    base, extra = divmod(64, n_bands)
    spans, off = [], 0
    for b in range(n_bands):
        w = base + (1 if b < extra else 0)
        spans.append((off, w))
        off += w
    return spans


def simhash_pairs_from(
    sim: DataFrame,
    max_hamming: int = 3,
    id_col: str = "_id",
    max_band_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """(id_a, id_b, hamming) from a precomputed (id, simhash) relation —
    shared by :func:`simhash_near_pairs` and oracle-checked contracts that
    persist the signature table first."""
    spans = simhash_bands(max_hamming)
    sh = sim.withColumnRenamed(id_col, "_id") if id_col != "_id" else sim
    bands = sh.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), off)
                        .bitwiseAND(F.lit(-1 if width >= 64 else (1 << width) - 1))
                        .alias("bkey"),
                    )
                    for b, (off, width) in enumerate(spans)
                ]
            )
        ).alias("bb"),
    ).select("_id", "simhash", "bb.band", "bb.bkey")
    cand = capped_pair_candidates(
        bands, ["band", "bkey"], max_band_bucket, extra_cols=("simhash",)
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_band_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
    persist_handles: list | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within Hamming distance, candidates via
    (max_hamming + 1)-band blocking — a pair within the distance budget
    always collides in >= 1 band (pigeonhole over the band spans); band
    buckets larger than ``max_band_bucket`` (e.g. boilerplate/empty-doc
    collisions) emit an id-adjacent spanning chain instead of all pairs
    (see :func:`capped_pair_candidates`). The signature
    table feeds three branches (cap aggregate + both self-join sides), so
    it is persisted — otherwise the Arrow signature pass re-runs per
    branch. ``persist_handles``: see :func:`minhash_lsh_pairs`."""
    from pyspark.storagelevel import StorageLevel

    sim = simhash64(df, col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    if persist_handles is not None:
        persist_handles.append(sim)
    return simhash_pairs_from(
        sim, max_hamming, id_col=id_col, max_band_bucket=max_band_bucket
    )


# ---------- embedding cosine near-dup ----------

def cosine_sim_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, computed with
    native higher-order functions in float64 (sequential fold — matches
    DuckDB's list_cosine_similarity evaluation order)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return dot / (na * nb)


def embedding_lsh_band_rows(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 24,
    planes_per_band: int = 3,
    seed: int = 7,
) -> DataFrame:
    """(_id, band, bkey) random-hyperplane LSH band rows: ONE NumPy matmul
    per Arrow batch against a seeded (dim x bands*planes) plane matrix;
    each band key is the sign bit-pattern of its planes. Recall for a pair
    at cosine c: 1 - (1 - p^r)^bands with p = 1 - acos(c)/pi — at the
    defaults (24 x 3) a 0.8-cosine pair is missed with prob ~6e-8."""
    from collections.abc import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        weights = (1 << np.arange(planes_per_band)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if planes is None:
                rng = np.random.default_rng(seed)
                planes = rng.standard_normal((mat.shape[1], bands * planes_per_band))
            bits = (mat @ planes) > 0
            keys = (bits.reshape(len(pdf), bands, planes_per_band) * weights).sum(axis=2)
            yield pd.DataFrame(
                {
                    "_id": np.repeat(pdf[id_col].to_numpy(np.int64), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), len(pdf)),
                    "bhash": keys.reshape(-1),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(gen, "_id long, band int, bhash long")


def embedding_near_duplicates(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    bands: int = 24,
    planes_per_band: int = 3,
    seed: int = 7,
    max_band_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """(id_a, id_b, cos) pairs with cosine >= threshold.

    Default path: hyperplane-LSH band candidates (band self-join with the
    oversized-bucket guard), exact float64 cosine verified on candidates
    only — precision exact, recall ~1 at the default banding. ``exact=True``
    keeps the brute-force all-pairs crossJoin as a small-corpus test
    oracle; it is O(n^2) and must never be the wired path at scale."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if exact:
        cand = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        rows = embedding_lsh_band_rows(emb, id_col, vec_col, bands, planes_per_band, seed)
        pairs = band_candidates(rows, max_band_bucket)
        cand = pairs.join(a, "id_a").join(b, "id_b")
    return (
        cand.withColumn("cos", F.round(cosine_sim_col(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# ---------- Connected components (pair -> cluster) ----------

def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + one small-star round over an undirected edge list
    ``(a, b)``. Pure DataFrame ops: each half is one groupBy-min plus one
    join on the grouping key (co-partitioned), so a round costs two
    shuffles regardless of component shape."""
    # large-star: for every node u, attach each strictly-larger neighbor
    # to min(Γ(u) ∪ {u}).
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.min("b").alias("_mv"))
    mins = mins.select("a", F.least(F.col("a"), F.col("_mv")).alias("_m"))
    large = (
        sym.filter(F.col("b") > F.col("a"))
        .join(mins, "a")
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
        .distinct()
    )
    # small-star: orient every edge (hi, lo); attach hi and each lo to
    # the minimum lo of hi's low-neighborhood.
    hi_lo = large.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b"))
    m2 = hi_lo.groupBy("a").agg(F.min("b").alias("_m"))
    small = (
        hi_lo.join(m2, "a")
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
        .union(m2.select(F.col("a"), F.col("_m").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    return small.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    persist_handles: list | None = None,
    max_driver_edges: int = 2_000_000,
) -> DataFrame:
    """``(node, component)`` for every node appearing in ``pairs``;
    ``component`` is the minimum node id of the node's connected
    component (so a component's root maps to itself).

    Near-dup PAIR operators (:func:`jaccard_pairs_exact`,
    :func:`minhash_lsh_pairs`, :func:`simhash_near_pairs`,
    :func:`embedding_near_duplicates`) emit edges; a curation pipeline
    needs CLUSTERS — one keeper per group of mutual near-duplicates.
    This closes that gap with the alternating large-star / small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014 — public literature): each round is two
    groupBy-min shuffles and converges in O(log n) rounds even for the
    long chain paths that :func:`capped_pair_candidates` emits for
    oversized buckets (naive min-label propagation needs O(diameter)
    rounds — the 100-TB failure mode this algorithm exists to avoid).

    Scale notes: per-round results are eagerly ``localCheckpoint``-ed —
    caching alone is NOT enough for an iterative DataFrame algorithm
    because the LOGICAL plan still nests one round per iteration and
    Catalyst re-analyzes the whole tree each round (measured here:
    analysis time grows ~8x per round and passes 10 s by round 3);
    checkpointing truncates the lineage so every round's plan is O(1).
    Convergence is detected by an exact (count, xor-of-hashes) edge-set
    signature, one tiny aggregate per round. The reference has no cluster
    operator (its dedup is exact-key insert refusal,
    /root/reference/src/search/search_provider.rs:253-263); this is part
    of the beyond-reference training-data family.

    ``max_driver_edges`` is the engine's standard budgeted fast path
    (the WAND executor's ``max_driver_postings`` discipline): an edge set
    at or under the budget finishes with a driver-side union-find in ONE
    collect instead of ~10 distributed rounds of fixed job overhead —
    near-dup edges are orders of magnitude rarer than docs, so in
    practice most corpora take this path; above the budget the star
    rounds run (and hand over mid-way once they shrink the set under
    budget). Pass 0 to force the fully-distributed path (tests do).
    """
    edges = (
        pairs.select(F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sess = pairs.sparkSession

    def _sig(df):
        # xor-fold: order-independent and overflow-free under ANSI mode
        r = df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
        ).collect()[0]
        return (r["n"], r["h"])

    def _driver_cc(edge_df: DataFrame) -> DataFrame:
        """Bounded-budget driver union-find (path-halving) over dense
        node ordinals: one Arrow collect, numpy factorize, and an
        array-backed union-find (the per-row dict/Row version spent most
        of its time building Python objects)."""
        pdf = edge_df.toPandas()
        if not len(pdf):
            return sess.createDataFrame([], "node long, component long")
        av = pdf["a"].to_numpy(np.int64)
        bv = pdf["b"].to_numpy(np.int64)
        nodes, packed = np.unique(np.concatenate([av, bv]), return_inverse=True)
        ai, bi = packed[: len(av)], packed[len(av) :]
        parent = np.arange(len(nodes), dtype=np.int64)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for x, y in zip(ai.tolist(), bi.tolist()):
            rx, ry = find(x), find(y)
            if rx != ry:
                # nodes[] is sorted, so smaller ordinal == smaller id:
                # rooting at min keeps component == min node id directly
                if rx < ry:
                    parent[ry] = rx
                else:
                    parent[rx] = ry
        roots = np.array([find(i) for i in range(len(nodes))], np.int64)
        out = pd.DataFrame({"node": nodes, "component": nodes[roots]})
        return sess.createDataFrame(out)

    prev_sig = _sig(edges)
    if prev_sig[0] <= max_driver_edges:
        return _driver_cc(edges)
    converged = False
    for _ in range(max_iter):
        edges = _star_round(edges).localCheckpoint(eager=True)
        sig = _sig(edges)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
        if sig[0] <= max_driver_edges:
            # the star rounds shrank the set under budget: the remaining
            # edges are (node, smaller-id) links whose transitive closure
            # the driver finishes exactly
            return _driver_cc(edges)
    if not converged:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")
    if persist_handles is not None:
        persist_handles.append(edges)
    # converged star forest: every edge is (member, root), root = min id.
    return (
        edges.select(F.col("a").alias("node"), F.col("b").alias("component"))
        .union(edges.select(F.col("b").alias("node"), F.col("b").alias("component")))
        .distinct()
    )


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
    persist_handles: list | None = None,
) -> DataFrame:
    """Cluster assignment + keeper flag for EVERY document: near-dup pair
    edges become connected components; each doc maps to ``cluster_id`` =
    min doc id of its component (singletons map to themselves) and
    ``is_canonical`` marks the one keeper per cluster. Filtering on
    ``is_canonical`` is the end-to-end near-dedup a training-data
    pipeline runs: drop every non-keeper.

    The component map is broadcast into the corpus-wide join: components
    only contain docs that appear in a near-dup PAIR, a set orders of
    magnitude smaller than the corpus (and bounded by the pair operators'
    own skew caps), so the full-corpus side never shuffles."""
    comp = connected_components(pairs, max_iter=max_iter, persist_handles=persist_handles)
    ids = all_ids.select(F.col(id_col).cast("long").alias("node"))
    out = (
        ids.join(F.broadcast(comp), "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )
    return out
