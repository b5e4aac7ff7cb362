"""Incremental index updates: batch append + Structured Streaming ingest.

Reference analog: the continuous ingestion loop feeding an ever-growing
index (/root/reference/src/index/extraction_service.rs:34-61 — runs
forever, random WARC per cycle) with URL-dedup before insert
(/root/reference/src/search/search_provider.rs:250-286) and periodic Save
checkpoints (/root/reference/src/bin/dawnsearch.rs:80-88).

Spark shape: each micro-batch of new documents becomes one or more new
**build groups** appended after the committed ones. BOTH the posting
runs AND the merged segment rows are stats-free (runs store raw
docID/tf/dl; segment rows store (max_tf, min_dl) block bounds and
per-row n_docs — query-time idf/avgdl/bounds always derive from current
stats), so an append only:
  1. anti-joins new docs against the forward index on the identity key
     (J2 insert-dedup analog), assigns docIDs starting at the current N;
  2. appends to the forward-index parquet and re-commits its manifest;
  3. invalidates the ``stats`` manifest (exact recount from run
     metadata — cheap) while the ``segments`` manifest KEEPS its
     committed generation list;
  4. re-runs ``build_index`` — committed run groups are skipped, only
     the new groups tokenize/shuffle, and stage 3 merges ONLY the new
     groups' runs into a new segment GENERATION: append IO is O(batch),
     never O(index) (the reference appends in O(batch) too —
     search_provider.rs:250-286 — with periodic saves :173-181).
     Compaction re-merges all generations once their count exceeds
     ``cfg.max_segment_generations``.
Scores stay rank-identical to a from-scratch build because nothing
stats-dependent is stored: df is recovered by summing n_docs across a
term's rows, and block bounds are evaluated under current stats.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.index_build import IndexPaths, build_index
from dawnsearch_spark.manifest import MANIFEST_DIR, write_manifest
from dawnsearch_spark.operators.docids import assign_doc_ids


def _invalidate(root: str, names: list[str]) -> None:
    for n in names:
        p = os.path.join(root, MANIFEST_DIR, f"{n}.json")
        if os.path.exists(p):
            os.remove(p)


def append_documents(
    spark: SparkSession,
    index_root: str,
    new_docs: DataFrame,
    cfg: EngineConfig,
    n_groups: int = 1,
    log=lambda m: None,
    clear_stale_masks: bool = True,
) -> dict:
    """Append new documents and bring the index fully up to date.

    Crash safety (no torn-append window): the doc_id base comes from
    ``max(doc_id) + 1`` of the forward-index parquet itself — never from
    the stats manifest, which may be stale after a crash — and the derived
    manifests (stats, documents) are invalidated BEFORE the parquet
    append (the segments manifest survives: its committed generations
    stay valid, and stage 3 detects the uncovered new groups by
    comparing the generation group list against the build plan). A crash at any point then leaves one of two states:
    (a) manifests invalidated, parquet untouched — the next build recovers
    the documents manifest by recount; (b) rows appended, manifests still
    missing — same recovery path adopts the appended rows (their ids are
    dense on top of the old max). Duplicate doc_ids can never be minted.
    """
    from dawnsearch_spark.index_build import _pa_count_max

    paths = IndexPaths(index_root)
    existing = spark.read.parquet(paths.documents)
    # count/max from parquet footer statistics (exact — same values the
    # Spark aggregate returns, without the per-append job)
    cm = _pa_count_max(paths.documents, "doc_id")
    if cm is not None:
        n_existing, mx = cm
    else:
        agg = existing.agg(
            F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("mx")
        ).collect()[0]
        n_existing, mx = int(agg["n"]), agg["mx"]
    base = int(mx) + 1 if mx is not None else 0
    if base != n_existing:
        # docID holes are legal ONLY when the manifest recorded them
        # (purge_deletes); otherwise this still catches a corrupt index.
        # id_space == base: interior holes only. id_space > base: the purge
        # also removed the top of the ID range — every id >= base is
        # physically gone from segments AND forward index, so minting new
        # ids from base is safe (they can never collide with a live doc).
        # Only id_space < base (rows beyond the recorded space) or a
        # missing manifest is corruption worth refusing on.
        from dawnsearch_spark.manifest import read_manifest

        m = read_manifest(paths.root, "documents") or {}
        if int(m.get("id_space", -1)) < base:
            raise RuntimeError(
                f"forward index not dense (count={n_existing}, max+1={base}) "
                "and the manifest id_space does not cover it; refusing to append"
            )

    if clear_stale_masks:
        # a crashed upsert_documents can leave staging masks — tombstones
        # on ids >= base that no live doc carries. Left in place they
        # would silently hide the docs THIS append is about to mint; no
        # legitimate tombstone can point past the live max, so clearing
        # them is always safe. (upsert_documents passes False: its own
        # staging masks on the incoming range are intentional.)
        stale = tombstone_ids(index_root)
        stale = stale[stale >= base]
        if len(stale):
            _swap_tombstone_set(spark, index_root, remove_ids=stale)
            log(f"append: cleared {len(stale)} stale staging masks >= {base}")

    # insert-dedup (J2): drop docs whose identity key already exists, then
    # dedup identity keys WITHIN the batch exactly like the first build
    # does — deterministic keeper = smallest content_sha per key, fused
    # into assign_doc_ids' range sort (a bare dropDuplicates picks an
    # arbitrary row, so a replayed batch could mint a different forward-
    # index row for the same key).
    key = list(cfg.id_cols)
    fresh = new_docs.join(existing.select(*key), on=key, how="left_anti")
    if "doc_id" in fresh.columns:
        fresh = fresh.drop("doc_id")
    if "content_sha" not in fresh.columns:
        fresh = fresh.withColumn("content_sha", F.sha2(F.col(cfg.content_col), 256))
    # Size the assignment shuffle to the BATCH, not the cluster: a
    # 1000-doc append through 32 range partitions pays 32 near-empty
    # tasks in each of the sort/count/write stages — whole seconds of
    # fixed overhead per append for zero usable parallelism (the same
    # rationale as _doc_partitions for the first build). One narrow
    # count of the incoming batch buys the right width.
    from dawnsearch_spark.index_build import _doc_partitions

    n_batch = new_docs.count()
    assigned = assign_doc_ids(
        fresh,
        cfg.id_cols,
        parts=_doc_partitions(cfg, n_groups, n_batch),
        dedup_order_col="content_sha",
    )
    fresh = assigned.withColumn("doc_id", F.col("doc_id") + F.lit(base))
    try:
        # the assignment's per-partition counts job already established the
        # exact kept-row total — no second count() over the Arrow stage
        n_new = int(getattr(assigned, "_dawnsearch_kept_rows", -1))
        if n_new < 0:
            n_new = fresh.count()
        if n_new == 0:
            log("append: nothing new after dedup")
            return {"appended": 0, "n_docs": n_existing}
        _invalidate(paths.root, ["stats", "documents"])
        # assign_doc_ids output partitions are already contiguous sorted
        # doc_id ranges — append them as-is (no extra repartitionByRange
        # shuffle)
        fresh.select(*existing.columns).write.mode("append").parquet(paths.documents)
    finally:
        # release the range-sort cache on BOTH exits — the n_new == 0 early
        # return otherwise leaks one persisted corpus copy per no-op append
        cached = getattr(assigned, "_dawnsearch_persisted", None)
        if cached is not None:
            cached.unpersist()
    from dawnsearch_spark.manifest import config_fingerprint

    fp = config_fingerprint(cfg)
    write_manifest(
        paths.root,
        "documents",
        {"fingerprint": fp, "n_docs": n_existing + n_new,
         "id_space": base + n_new, "appended": n_new},
    )
    log(f"append: {n_new} new docs (total {base + n_new}); stats recount + incremental merge")
    counters = build_index(spark, existing, index_root, cfg, n_groups=n_groups, log=log)
    counters["appended"] = n_new
    return counters


def tombstone_dir(index_root: str) -> str | None:
    """The directory currently holding the tombstone set, or None. Falls
    back to the two-rename swap's ``_old`` directory: a crash between
    ``rename(d, d_old)`` and ``rename(tmp, d)`` in :func:`delete_documents`
    leaves only ``_old`` on disk — readers must then see the PRE-delete
    set (the in-flight delete is lost, never silently halved)."""
    d = os.path.join(index_root, "tombstones")
    if os.path.isdir(d):
        return d
    old = d + "_old"
    return old if os.path.isdir(old) else None


def tombstone_ids(index_root: str) -> "np.ndarray":
    """The current tombstoned docID set as a SORTED int64 array (empty if
    none). Read driver-side via pyarrow — zero Spark jobs, the serving
    path must not pay a job dispatch to learn what is deleted."""
    import numpy as np

    d = tombstone_dir(index_root)
    if d is None:
        return np.zeros(0, np.int64)
    import glob

    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return np.zeros(0, np.int64)
    import pyarrow.dataset as ds

    tbl = ds.dataset(files, format="parquet").to_table(columns=["doc_id"])
    return np.unique(tbl.column("doc_id").to_numpy(zero_copy_only=False).astype("int64"))


def delete_documents(
    spark: SparkSession,
    index_root: str,
    cfg: EngineConfig,
    doc_ids=None,
    keys: DataFrame | None = None,
    log=lambda m: None,
) -> dict:
    """Tombstone-delete documents (Lucene semantics, the inverse of the
    J2 insert-dedup): deleted docs disappear from every search/hydration
    immediately, while segment rows, the forward index, and corpus stats
    stay untouched until :func:`purge_deletes` rewrites them — so a
    delete is O(delete batch), never O(index). Scores of surviving docs
    keep the PRE-delete stats until purge (exactly Lucene's deleted-docs
    staleness). ``doc_ids``: iterable of ints; ``keys``: a DataFrame of
    ``cfg.id_cols`` resolved against the forward index. Unknown ids are
    ignored. Reference analog: the reference is insert-only with a
    capacity cap (search_provider.rs:164-166) — delete is part of the
    index lifecycle its row store never finished."""
    import numpy as np

    paths = IndexPaths(index_root)
    existing = spark.read.parquet(paths.documents)
    if keys is not None:
        resolved = existing.join(
            keys.select(*cfg.id_cols).dropDuplicates(), on=list(cfg.id_cols)
        ).select("doc_id")
        new_ids = np.array([r["doc_id"] for r in resolved.collect()], np.int64)
    else:
        new_ids = np.asarray(sorted({int(x) for x in (doc_ids or ())}), np.int64)
    old = tombstone_ids(index_root)
    merged = np.unique(np.concatenate([old, new_ids])) if len(new_ids) else old
    if len(merged) == len(old):
        log("delete: nothing new to tombstone")
        return {"tombstones": int(len(old)), "added": 0}
    _swap_tombstone_set(spark, index_root, add_ids=new_ids, expected=len(merged))
    log(f"delete: {len(merged) - len(old)} new tombstones ({len(merged)} total)")
    return {"tombstones": int(len(merged)), "added": int(len(merged) - len(old))}


def _swap_tombstone_set(
    spark: SparkSession,
    index_root: str,
    add_ids=(),
    remove_ids=(),
    expected: int | None = None,
) -> int:
    """Atomically replace the tombstone set with (current ∪ add − remove).

    tmp-write -> two-rename swap -> manifest. The unrecoverable window of
    a naive rmtree(d)+rename(tmp,d) is the whole delete set (a crash in
    between leaves NO tombstones and deleted docs resurface); the
    two-rename keeps the old set at d_old until the new set is live, and
    :func:`tombstone_dir` falls back to d_old, so every crash point yields
    either the old set or the new set — never empty, never half. Only the
    add/remove batches are driver-materialized (bounded by the caller);
    the accumulated set merges distributed via the parquet union so a
    long-lived tombstone set never round-trips through the driver.
    Returns the new set's size."""
    import shutil

    import numpy as np

    paths = IndexPaths(index_root)
    d = os.path.join(index_root, "tombstones")
    tmp, old_dir = d + "_tmp", d + "_old"
    from dawnsearch_spark.manifest import read_manifest

    cur_count = int((read_manifest(index_root, "tombstones") or {}).get("count", 0))
    if cur_count <= 10_000_000:
        # driver fast path: the set is budget-sized (it is bounded between
        # purges, and delete/upsert callers already materialize it for the
        # merge), so the union/minus is one NumPy pass and the tmp write is
        # one pyarrow file — no Spark jobs. Same tmp-write -> two-rename
        # swap; readers see a sorted unique doc_id parquet either way.
        import pyarrow as pa
        import pyarrow.parquet as papq

        cur = tombstone_ids(index_root)
        add = np.asarray(sorted({int(x) for x in add_ids}), np.int64)
        merged = np.unique(np.concatenate([cur, add])) if len(add) else cur
        rm = np.asarray(sorted({int(x) for x in remove_ids}), np.int64)
        if len(rm):
            merged = np.setdiff1d(merged, rm, assume_unique=False)
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        papq.write_table(
            pa.table({"doc_id": merged}, schema=pa.schema([("doc_id", pa.int64())])),
            os.path.join(tmp, "part-00000.parquet"),
            compression="snappy",
        )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        n = int(len(merged))
    else:
        out = spark.createDataFrame(
            [(int(x),) for x in add_ids], "doc_id long"
        )
        src = tombstone_dir(index_root)
        if src is not None:
            out = spark.read.parquet(src).select("doc_id").unionByName(out)
        out = out.dropDuplicates(["doc_id"])
        rm = list(remove_ids)
        if rm:
            out = out.join(
                F.broadcast(
                    spark.createDataFrame([(int(x),) for x in rm], "doc_id long")
                ),
                "doc_id",
                "left_anti",
            )
        out.coalesce(1).write.mode("overwrite").parquet(tmp)
        n = int(
            spark.read.parquet(tmp).count() if expected is None else expected
        )
    shutil.rmtree(old_dir, ignore_errors=True)
    if os.path.isdir(d):
        os.rename(d, old_dir)
    os.rename(tmp, d)
    shutil.rmtree(old_dir, ignore_errors=True)
    spark.catalog.refreshByPath(d)
    write_manifest(paths.root, "tombstones", {"count": n})
    return n


def upsert_documents(
    spark: SparkSession,
    index_root: str,
    batch: DataFrame,
    cfg: EngineConfig,
    match_cols=None,
    n_groups: int = 1,
    log=lambda m: None,
    _crash_after: str | None = None,
) -> dict:
    """Replace-by-key in one call: every existing document whose
    ``match_cols`` key appears in ``batch`` is atomically replaced by the
    batch's version. The pipeline-curation primitive "re-ingest this repo
    at a new commit" (reference analog: URL-dedup-before-insert,
    /root/reference/src/search/search_provider.rs:253-263, generalized
    from drop-duplicate to replace): ``match_cols`` defaults to
    ``cfg.id_cols`` minus ``commit`` — same (repo, path), any commit.

    Atomic cutover, no neither/both window: the batch's new rows are
    appended UNDER STAGING MASKS (tombstones pre-placed on the incoming
    docID range), so searches keep serving the OLD versions throughout the
    append; the visible switch is ONE two-rename tombstone-set swap that
    simultaneously unmasks the new rows and tombstones the old ones.
    Crash anywhere before that swap → the old versions serve (recovery:
    re-run the upsert, or any plain append clears the stale masks); crash
    after → fully upserted. ``purge_deletes`` later reclaims the replaced
    rows (until then stats keep Lucene deleted-docs staleness, exactly
    like ``delete_documents``).

    ``_crash_after`` ("stage" | "append") is a test hook that raises at
    the named crash point to prove the recovery contract.
    """
    import numpy as np

    match_cols = tuple(
        match_cols
        if match_cols is not None
        else [c for c in cfg.id_cols if c != "commit"] or list(cfg.id_cols)
    )
    if not set(match_cols) <= set(cfg.id_cols):
        raise ValueError(
            f"match_cols {match_cols} must be a subset of id_cols {cfg.id_cols}"
        )
    from dawnsearch_spark.index_build import _pa_count_max

    paths = IndexPaths(index_root)
    key_full = list(cfg.id_cols)
    existing = spark.read.parquet(paths.documents)
    _cm = _pa_count_max(paths.documents, "doc_id")
    if _cm is not None:
        mx = _cm[1]
    else:
        mx = existing.agg(F.max("doc_id").alias("mx")).collect()[0]["mx"]
    base = int(mx) + 1 if mx is not None else 0

    # 0. recovery: stale staging masks from a crashed attempt mask ids
    # that do not exist yet — clear before re-deriving the plan
    stale = tombstone_ids(index_root)
    stale = stale[stale >= base]
    if len(stale):
        _swap_tombstone_set(spark, index_root, remove_ids=stale)
        log(f"upsert: cleared {len(stale)} stale staging masks")

    bkeys = F.broadcast(batch.select(*key_full).dropDuplicates())
    # old versions to replace: match_cols key appears in the batch, but
    # the FULL key does not (full-key matches ARE the new versions —
    # possibly already appended by a crashed prior attempt)
    victims = np.asarray(
        sorted(
            r["doc_id"]
            for r in existing.join(
                F.broadcast(batch.select(*match_cols).dropDuplicates()),
                on=list(match_cols),
            )
            .join(bkeys, on=key_full, how="left_anti")
            .select("doc_id")
            .collect()
        ),
        np.int64,
    )
    already_new = np.asarray(
        sorted(
            r["doc_id"]
            for r in existing.join(bkeys, on=key_full)
            .select("doc_id")
            .collect()
        ),
        np.int64,
    )
    n_new = (
        batch.select(*key_full)
        .dropDuplicates()
        .join(existing.select(*key_full), on=key_full, how="left_anti")
        .count()
    )

    # 1. staging masks on the incoming range: the appended rows stay
    # invisible until the cutover swap
    new_range = np.arange(base, base + n_new, dtype=np.int64)
    if n_new:
        _swap_tombstone_set(spark, index_root, add_ids=new_range)
    if _crash_after == "stage":
        raise RuntimeError("simulated crash after staging masks")

    # 2. append under the masks (clear_stale_masks=False: ours are live)
    appended = 0
    if n_new:
        out = append_documents(
            spark, index_root, batch, cfg, n_groups=n_groups, log=log,
            clear_stale_masks=False,
        )
        appended = int(out.get("appended", 0))
        if appended != n_new:
            raise RuntimeError(
                f"upsert append drift: planned {n_new}, appended {appended}"
            )
    if _crash_after == "append":
        raise RuntimeError("simulated crash after append, before cutover")

    # 3. atomic cutover: one swap unmasks the new rows AND tombstones the
    # replaced versions — the only instant the visible corpus changes
    n_tombs = _swap_tombstone_set(
        spark,
        index_root,
        add_ids=victims,
        remove_ids=np.concatenate([new_range, already_new]),
    )
    write_manifest(
        paths.root,
        "upsert",
        {"replaced": int(len(victims)), "appended": appended,
         "unmasked": int(len(already_new)), "match_cols": list(match_cols)},
    )
    log(
        f"upsert: replaced {len(victims)} docs with {appended} new + "
        f"{len(already_new)} recovered rows ({n_tombs} tombstones pending purge)"
    )
    return {
        "replaced": int(len(victims)),
        "appended": appended,
        "recovered": int(len(already_new)),
        "tombstones": n_tombs,
    }


def purge_deletes(
    spark: SparkSession,
    index_root: str,
    cfg: EngineConfig,
    log=lambda m: None,
) -> dict:
    """Physically remove tombstoned docs: one merge of ALL generations
    with the tombstone filter (sourced from the index's own segment rows
    — runs/ not required), a forward-index rewrite, and a dictionary +
    stats rebuild from the purged segments. After purge, searches are
    score-identical to a from-scratch build over the surviving docs
    (same N, avgdl, df, tf, dl — docIDs keep their original values, the
    ID space just has holes). Crash-safe by the usual manifest-first
    ordering: the tombstone set is cleared LAST, so a crash anywhere
    leaves tombstone filtering active and results correct."""
    import numpy as np

    from dawnsearch_spark.index_build import (
        gc_run_dirs,
        merge_groups_to_generation,
        segment_generations,
    )
    from dawnsearch_spark.manifest import (
        MANIFEST_DIR,
        config_fingerprint,
        dir_bytes,
        read_manifest,
    )

    paths = IndexPaths(index_root)
    tombs = tombstone_ids(index_root)
    if not len(tombs):
        log("purge: no tombstones")
        return {"purged": 0}
    fp = config_fingerprint(cfg)
    gens = segment_generations(index_root)
    all_groups = sorted({int(x) for g in gens for x in g["groups"]})

    # 1. purged merge of every generation into one fresh generation
    new_gen = max((int(g["gen"]) for g in gens), default=-1) + 1
    gd = merge_groups_to_generation(
        spark, paths, cfg, all_groups, new_gen, source_gens=gens, tombstones=tombs
    )
    log(f"purge: merged {gd['rows']} rows into gen {new_gen}")
    write_manifest(
        paths.root,
        "segments",
        {"fingerprint": fp, "generations": [gd], "rows": gd["rows"],
         "postings": gd["postings"], "bytes": dir_bytes(paths.segments),
         "n_groups": len(all_groups)},
    )
    import shutil

    for g in gens:  # manifest committed first; old dirs are now garbage
        shutil.rmtree(
            os.path.join(paths.segments, f"gen={int(g['gen'])}"),
            ignore_errors=True,
        )

    # 2. runs contain the deleted postings — drop them (the dictionary
    # fallback and any future compaction source from the purged segments)
    gc_run_dirs(index_root, log=log)

    # 3. forward-index rewrite without the tombstoned rows (tmp + swap;
    # the manifest is invalidated first so a crash recovers by recount)
    docs_m = read_manifest(paths.root, "documents") or {}
    id_space = int(docs_m.get("id_space", docs_m.get("n_docs", 0)))
    # the tombstone set already lives on disk as parquet — feed the
    # anti-join from there instead of round-tripping ids through a
    # driver-side createDataFrame (the only driver-memory term the delete
    # lifecycle had; at a 10^9-tombstone extreme the parquet relation
    # scales where a Python list would not)
    tomb_df = (
        spark.read.parquet(tombstone_dir(index_root))
        .select("doc_id")
        .dropDuplicates(["doc_id"])
    )
    live = spark.read.parquet(paths.documents).join(
        F.broadcast(tomb_df), "doc_id", "left_anti"
    )
    tmp = paths.documents + "_tmp"
    # No repartitionByRange: its sampling job + full shuffle re-derived a
    # doc_id clustering the scan largely has (guide §2.4). But a rewrite
    # task may PACK several small input files in size order, so rows are
    # re-sorted WITHIN each task (in-memory, no exchange) — row-group
    # min/max stats stay tight and the zero-job point-lookup path keeps
    # skipping row groups after every purge.
    live.sortWithinPartitions("doc_id").write.mode("overwrite").parquet(tmp)
    _invalidate(paths.root, ["documents", "stats", "terms"])
    # two-rename swap: the unrecoverable window is one rename, not a
    # whole directory delete + rewrite
    old_dir = paths.documents + "_old"
    shutil.rmtree(old_dir, ignore_errors=True)
    os.rename(paths.documents, old_dir)
    os.rename(tmp, paths.documents)
    shutil.rmtree(old_dir, ignore_errors=True)
    spark.catalog.refreshByPath(paths.documents)
    from dawnsearch_spark.index_build import _pa_count_max

    _cm = _pa_count_max(paths.documents, "doc_id")
    n_live = (
        _cm[0] if _cm is not None else spark.read.parquet(paths.documents).count()
    )
    log(f"purge: forward index rewritten ({n_live} live rows)")
    write_manifest(
        paths.root,
        "documents",
        {"fingerprint": fp, "n_docs": int(n_live), "id_space": id_space,
         "bytes": dir_bytes(paths.documents), "purged": True},
    )

    # 4. dictionary + stats rebuild from the purged segments (stage 1b
    # fallback — run dirs are gone, so it sources from the new generation)
    from dawnsearch_spark.index_build import build_index

    build_index(spark, spark.read.parquet(paths.documents), index_root, cfg, log=log)

    # 5. tombstones cleared LAST — every earlier crash point leaves the
    # filter active and results correct (just not yet compacted). The
    # swap's _old fallback dir is cleared too, else a crashed pre-purge
    # delete could resurrect an already-purged tombstone set.
    shutil.rmtree(os.path.join(index_root, "tombstones"), ignore_errors=True)
    shutil.rmtree(os.path.join(index_root, "tombstones_old"), ignore_errors=True)
    p = os.path.join(paths.root, MANIFEST_DIR, "tombstones.json")
    if os.path.exists(p):
        os.remove(p)
    log(f"purge: {len(tombs)} docs removed; index now {n_live} live docs")
    return {"purged": int(len(tombs)), "n_docs": int(n_live)}


def stream_into_index(
    stream_df: DataFrame,
    index_root: str,
    cfg: EngineConfig,
    checkpoint_dir: str,
    n_groups: int = 1,
    trigger_available_now: bool = True,
):
    """Structured Streaming sink: each micro-batch appends to the index via
    ``foreachBatch`` (ST1/ST2 analog — micro-batch with per-batch commit).

    ``stream_df`` must carry the corpus schema (repo, path, commit, lang,
    content). Returns the started StreamingQuery.
    """

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_documents(
            batch_df.sparkSession, index_root, batch_df, cfg, n_groups=n_groups
        )

    writer = stream_df.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
