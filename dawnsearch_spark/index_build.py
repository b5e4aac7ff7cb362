"""Index build orchestration: resumable, checkpointed, lineage-counted.

End-to-end build (SURVEY.md §3 E3 mapping):

    documents ──(stage 0)── docID assignment + forward index parquet
               ──(stage 1)── corpus stats + term dictionary (df/cf/heavy)
               ──(stage 2)── per-group posting runs   [checkpoint granule]
               ──(stage 3)── k-way merge -> block-max segments

Reference analogs: the ingestion loop feeding an ever-growing index with a
periodic Save (/root/reference/src/index/extraction_service.rs:34-61;
/root/reference/src/bin/dawnsearch.rs:80-88) becomes a partition-wise batch
build where each **build group** (a contiguous docID range) commits an
atomic manifest; a killed build re-runs only uncommitted groups
(load-else-rebuild, search_provider.rs:111-120). Lineage counters per
group/bucket (docs, postings, terms, bytes) are the stats the reference
serves via Announce (search_provider.rs:328-332).

Scale notes (100 TB thinking):
* stage 2 re-tokenizes its group instead of materializing a global TF
  table — tokenize is JVM-regex (cheap, codegen) while a TF parquet would
  be roughly index-sized write+read IO;
* group scans push ``doc_id`` range predicates into the forward-index
  parquet (written range-partitioned by doc_id, so file pruning applies);
* placement rule: each driver-vs-Spark choice has ONE budget and both
  sides run the same code. Stage 1b plans its sources once
  (:func:`_stage1b_plan`) and aggregates them in pandas at or under
  ``DRIVER_DICT_MAX_ROWS`` metadata rows, in Spark above. Stage 3 merges
  every bucket with one kernel (:func:`_merge_bucket`): on driver threads
  at or under ``DRIVER_MERGE_MAX_POSTINGS`` input postings; above it as
  one Spark task per bucket when the input is segment rows (purge,
  compaction after ``gc_runs``), and through the salted (term, salt) run
  shuffle when the input is runs (first build, large append) — the salt
  bounds every reducer group by ``range_size`` postings;
* index roots are local paths (:class:`IndexPaths` rejects URIs), since
  manifests commit through ``os``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.manifest import (
    MANIFEST_DIR as MANIFEST_DIR_NAME,
    config_fingerprint,
    dir_bytes,
    is_committed,
    read_manifest,
    write_manifest,
)
from dawnsearch_spark.operators.docids import assign_doc_ids
from dawnsearch_spark.operators.postings import (
    build_posting_miniruns,
    reclassify_runs,
)
from dawnsearch_spark.operators.tf import (
    CorpusStats,
    document_frequencies_fast,
)


@dataclass(frozen=True)
class IndexPaths:
    """The directory layout of one index root. Roots are local paths:
    manifests commit through ``os`` (manifest.py), so a scheme root would
    put them under ``./file:/...`` while Spark writes the data at the URI,
    and resume, crash recovery and Engine open would then depend on the
    working directory."""

    root: str

    def __post_init__(self) -> None:
        if "://" in self.root:
            raise ValueError(
                f"index root {self.root!r} is a URI; index roots must be "
                "local paths because manifests are local-only"
            )

    @property
    def documents(self) -> str:
        return os.path.join(self.root, "documents")

    @property
    def terms(self) -> str:
        return os.path.join(self.root, "terms")

    @property
    def runs(self) -> str:
        return os.path.join(self.root, "runs")

    @property
    def segments(self) -> str:
        return os.path.join(self.root, "segments")


def segment_generations(root: str) -> list[dict]:
    """The committed segment generation list from the segments manifest
    (empty for an empty index or a legacy/uncommitted one)."""
    m = read_manifest(root, "segments") or {}
    return list(m.get("generations") or [])


def read_segments(spark: SparkSession, root: str) -> DataFrame:
    """The serving segments relation = union of the MANIFEST-LISTED
    generation directories (partition columns ``gen`` and ``bucket`` are
    preserved via basePath, so bucket pruning still prunes files). Only
    manifest-listed generations are read — a crash between a compaction's
    manifest commit and its old-directory cleanup must not double-serve
    postings. Falls back to a root read for an empty index."""
    paths = IndexPaths(root)
    gens = segment_generations(root)
    if not gens:
        return spark.read.parquet(paths.segments)
    # rows == 0 generations (an all-empty-content append) have no
    # schema-bearing files — they carry nothing and are skipped
    dirs = [
        os.path.join(paths.segments, f"gen={int(g['gen'])}")
        for g in gens
        if int(g.get("rows", 0)) > 0
    ]
    if not dirs:
        from dawnsearch_spark.operators.merge import SEGMENT_SCHEMA

        return spark.createDataFrame([], SEGMENT_SCHEMA)
    return spark.read.option("basePath", paths.segments).parquet(*dirs)


def _ceil_to(x: int, mult: int) -> int:
    return ((x + mult - 1) // mult) * mult


def _has_success(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _doc_partitions(cfg: EngineConfig, n_groups: int, n_docs: int) -> int:
    """Forward-index file count. It bounds the task parallelism of every
    downstream tokenize stage (stage-2 group scans read a doc_id range = a
    subset of these files), so it scales up to ``build_partitions`` for a
    large corpus — but is also capped by the data (≈2.5k docs per file):
    on this host each write task costs whole seconds of fixed overhead, so
    32 near-empty files for a 20k-doc corpus measurably slow the build
    without adding any usable parallelism."""
    by_data = max(1, n_docs // 2500)
    return max(n_groups, min(cfg.build_partitions, by_data))


def _plan_groups(
    root: str, n_docs: int, n_groups: int, range_size: int, fp: str
) -> list[tuple[int, int, int, bool]]:
    """(group_id, doc_lo, doc_hi, committed) spans covering [0, n_docs).

    Committed groups (manifest present, same fingerprint) keep their
    recorded spans; uncovered docs get new range-aligned spans. Build
    groups are contiguous by construction, so coverage is a prefix."""
    from dawnsearch_spark.manifest import list_manifests

    committed = []
    for name, m in list_manifests(root).items():
        if name.startswith("runs_group_") and m.get("fingerprint") == fp:
            committed.append((int(m["group"]), int(m["doc_lo"]), int(m["doc_hi"])))
    committed.sort()
    plan = [(g, lo, hi, True) for g, lo, hi in committed]
    covered = max((hi for _, _, hi in committed), default=0)
    next_g = max((g for g, _, _ in committed), default=-1) + 1
    if covered < n_docs:
        remaining = n_docs - covered
        gsize = _ceil_to(max(1, (remaining + n_groups - 1) // n_groups), range_size)
        lo = covered
        while lo < n_docs:
            hi = min(lo + gsize, n_docs)
            plan.append((next_g, lo, hi, False))
            next_g += 1
            lo = hi
    return plan


def _pa_files(path: str) -> list[str]:
    """Parquet part files of a directory (empty when it is absent)."""
    import glob as _glob

    return sorted(_glob.glob(os.path.join(path, "*.parquet")))


def _pa_read(path_or_files, columns=None):
    """Driver-side pyarrow table read (no Spark job)."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    files = (
        _pa_files(path_or_files) if isinstance(path_or_files, str) else path_or_files
    )
    if not files:
        return pa.table({c: [] for c in (columns or [])})
    return pads.dataset(files, format="parquet").to_table(columns=columns)


def _pa_count_max(path: str, col: str) -> tuple[int, int | None] | None:
    """(row count, max(col)) from parquet FOOTER metadata only — the
    exact values a Spark count/max job returns, read without a job.
    None when any row group lacks statistics (caller falls back to
    Spark)."""
    files = _pa_files(path)
    import pyarrow.parquet as papq

    total = 0
    mx: int | None = None
    for f in files:
        md = papq.ParquetFile(f).metadata
        total += md.num_rows
        if md.num_rows == 0:
            continue
        ci = None
        rg0 = md.row_group(0)
        for j in range(rg0.num_columns):
            if rg0.column(j).path_in_schema == col:
                ci = j
                break
        if ci is None:
            return None
        for rg in range(md.num_row_groups):
            c = md.row_group(rg).column(ci)
            st = c.statistics
            if st is None or not st.has_min_max:
                return None
            v = int(st.max)
            mx = v if mx is None else max(mx, v)
    return total, mx


def gc_run_dirs(root: str, log=lambda m: None) -> list[int]:
    """Delete run-group directories whose postings are fully recoverable
    from the index itself: the group is folded into the committed term
    dictionary AND merged into a committed segment generation. Compaction
    and the stage-1b dictionary fallback source from segment rows when a
    run dir is gone, so runs/ stops being load-bearing the moment its
    groups are merged — retaining it forever doubles index storage
    (the 100-TB cost-of-ownership flaw, VERDICT r4 #1). The runs_group_*
    manifests are KEPT: they drive the resume plan (committed spans).
    Returns the swept group ids."""
    import shutil

    paths = IndexPaths(root)
    terms_m = read_manifest(root, "terms") or {}
    seg_m = read_manifest(root, "segments") or {}
    if not terms_m or not seg_m or terms_m.get("fingerprint") != seg_m.get(
        "fingerprint"
    ):
        return []
    dict_groups = {int(g) for g in terms_m.get("groups", [])}
    gen_groups = {
        int(x) for g in (seg_m.get("generations") or []) for x in g["groups"]
    }
    eligible = dict_groups & gen_groups
    swept: list[int] = []
    if os.path.isdir(paths.runs):
        for d in sorted(os.listdir(paths.runs)):
            if d.startswith("group=") and int(d.split("=", 1)[1]) in eligible:
                shutil.rmtree(os.path.join(paths.runs, d), ignore_errors=True)
                swept.append(int(d.split("=", 1)[1]))
    if swept:
        log(f"gc_runs: reclaimed run dirs for groups {swept}")
    return swept


def load_stats(root: str) -> CorpusStats:
    m = read_manifest(root, "stats")
    if m is None:
        raise FileNotFoundError(f"no stats manifest in {root}")
    return CorpusStats(
        n_docs=int(m["n_docs"]), avgdl=float(m["avgdl"]), total_tokens=int(m["total_tokens"])
    )


#: Postings budget for the DRIVER-SIDE merge placement (zero Spark jobs):
#: an input that fits is read once via pyarrow, split by term bucket and
#: merged by :func:`_merge_bucket` on driver threads — the build-side twin
#: of the serving fast path (a ~10-stage Spark job costs whole seconds of
#: fixed overhead on inputs this small). Scale-dependent, so
#: env-overridable; inputs above the budget merge as Spark tasks.
DRIVER_MERGE_MAX_POSTINGS = int(
    os.environ.get("DAWNSEARCH_SPARK_DRIVER_MERGE_POSTINGS", 4_000_000)
)

#: the one file each merged ``gen=K/bucket=B`` directory holds
BUCKET_FILE = "part-00000.parquet"

_MERGE_IN_COLS = ["n_docs", "doc_blob", "tf_blob", "dl_blob"]


def _heavy_terms(paths: IndexPaths) -> frozenset:
    """The dictionary-heavy terms, via one filtered pyarrow read."""
    import pyarrow.dataset as pads

    files = _pa_files(paths.terms)
    if not files:
        return frozenset()
    td = pads.dataset(files, format="parquet").to_table(
        columns=["term"], filter=pads.field("heavy") == True  # noqa: E712
    )
    return frozenset(td.column("term").to_pylist())


def _merge_bucket(rows, salt_col: str, heavy, tomb, cfg: EngineConfig,
                  bucket_dir: str) -> tuple[int, int]:
    """THE merge kernel: merge, pack and write one term bucket.

    ``rows`` is a pyarrow table of run-shaped rows of ONE bucket — posting
    runs (``salt_col="salt"``) or segment rows reinterpreted as runs
    (``salt_col="range_id"``: a segment row's blobs are valid run blobs).
    Keys never span buckets (bucket = crc32(term)), so a bucket merges on
    its own. Split set = dictionary-heavy terms ∪ terms already salted in
    these rows: within one generation a term is served either as one light
    row or as range rows, never both. Output: ``bucket_dir/part-00000``
    sorted by (term, range_id), ~1 MB row groups (parquet footers become
    the term directory pages the serving reads prune by). Returns
    (rows, postings) written; an empty result writes nothing."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as papq

    from dawnsearch_spark.operators.merge import (
        SEGMENT_COLS,
        merge_rows_columnar,
        segment_columns_to_rows,
    )

    if not rows.num_rows:
        return 0, 0
    terms = rows.column("term").to_numpy(zero_copy_only=False)
    salts = rows.column(salt_col).to_numpy(zero_copy_only=False).astype(np.int64)
    salted = {t for t, s in zip(terms, salts) if s >= 0}
    cols = merge_rows_columnar(
        terms,
        salts,
        rows.column("n_docs").to_numpy(zero_copy_only=False).astype(np.int64),
        rows.column("doc_blob").to_pylist(),
        rows.column("tf_blob").to_pylist(),
        rows.column("dl_blob").to_pylist(),
        cfg,
        split_terms=heavy | salted if salted else heavy,
        tomb=tomb,
    )
    out = pd.DataFrame(segment_columns_to_rows(cols))
    if not len(out):
        return 0, 0
    out = out.sort_values(["term", "range_id"], ignore_index=True)
    i64, list_i64 = pa.int64(), pa.list_(pa.int64())
    schema = pa.schema(
        [
            ("term", pa.string()), ("range_id", i64), ("n_docs", i64),
            ("tf_sum", i64), ("doc_blob", pa.binary()),
            ("tf_blob", pa.binary()), ("dl_blob", pa.binary()),
            ("block_last", list_i64), ("block_doc_off", list_i64),
            ("block_tf_off", list_i64), ("block_dl_off", list_i64),
            ("front_tf", list_i64), ("front_dl", list_i64),
            ("front_off", list_i64), ("max_tf", i64), ("min_dl", i64),
        ]
    )
    blob_bytes = int(
        sum(len(b) for c in ("doc_blob", "tf_blob", "dl_blob") for b in out[c])
        + 200 * len(out)
    )
    rg_rows = max(16, int(len(out) * (1 << 20) / max(blob_bytes, 1)))
    os.makedirs(bucket_dir, exist_ok=True)
    papq.write_table(
        pa.table({c: out[c].tolist() for c in SEGMENT_COLS if c != "bucket"},
                 schema=schema),
        os.path.join(bucket_dir, BUCKET_FILE),
        row_group_size=min(rg_rows, len(out)),
        compression="snappy",
    )
    return len(out), int(out["n_docs"].sum())


def _generation_files(paths: IndexPaths, gens: list[dict]) -> list[str]:
    """Segment part files of the given generations (rows == 0 ones have
    none)."""
    import glob as _glob

    return [
        f
        for g in gens
        if int(g.get("rows", 0) or 0) > 0
        for f in sorted(
            _glob.glob(
                os.path.join(paths.segments, f"gen={int(g['gen'])}", "bucket=*", "*.parquet")
            )
        )
    ]


def _merge_source(
    paths: IndexPaths, group_ids: list[int], source_gens: list[dict] | None
) -> tuple[str, list[str]]:
    """(salt column, input files) of a merge. Runs-sourced while every
    group's run dir exists; otherwise (compaction / purge after
    ``gc_runs``) the source generations' segment files, which must cover
    exactly the requested groups."""
    gdirs = [os.path.join(paths.runs, f"group={g}") for g in group_ids]
    if source_gens is None or all(os.path.isdir(d) for d in gdirs):
        missing = [g for g, d in zip(group_ids, gdirs) if not os.path.isdir(d)]
        if missing:
            raise FileNotFoundError(f"merge: run groups {missing} have no run dir")
        return "salt", [f for d in gdirs for f in _pa_files(d)]
    src_groups = sorted(int(x) for g in source_gens for x in g["groups"])
    if src_groups != sorted(int(g) for g in group_ids):
        raise RuntimeError(
            f"segment-sourced merge needs generations covering exactly "
            f"the requested groups (gens cover {src_groups}, "
            f"requested {sorted(group_ids)})"
        )
    return "range_id", _generation_files(paths, source_gens)


def _merge_on_driver(cfg, files, salt_col, heavy, tomb, gdir) -> dict[int, tuple[int, int]]:
    """Driver placement: one pyarrow read, split by bucket, the kernel on a
    small thread pool (its NumPy passes release the GIL)."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    from dawnsearch_spark.operators.merge import term_bucket_py

    tbl = _pa_read(files, columns=["term", salt_col] + _MERGE_IN_COLS)
    uterms, tinv = np.unique(
        tbl.column("term").to_numpy(zero_copy_only=False), return_inverse=True
    )
    ubuckets = np.fromiter(
        (term_bucket_py(str(t), cfg.num_term_buckets) for t in uterms),
        np.int64,
        len(uterms),
    )
    row_bucket = ubuckets[tinv]
    present = sorted({int(b) for b in row_bucket})
    if not present:
        return {}

    def one(b: int) -> tuple[int, tuple[int, int]]:
        rows = tbl.take(np.flatnonzero(row_bucket == b))
        return b, _merge_bucket(
            rows, salt_col, heavy, tomb, cfg, os.path.join(gdir, f"bucket={b}")
        )

    with ThreadPoolExecutor(max_workers=min(8, len(present))) as pool:
        return dict(pool.map(one, present))


def _merge_in_tasks(spark, cfg, files, heavy, tomb, gdir) -> dict[int, tuple[int, int]]:
    """Task placement for big SEGMENT-sourced merges: one Spark task per
    bucket reads that bucket's files and runs the kernel. No exchange —
    every row of a (term, range), in every generation, already lives under
    the same ``bucket=B`` directories."""
    by_bucket: dict[int, list[str]] = {}
    for f in files:
        b = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
        by_bucket.setdefault(b, []).append(f)
    sc = spark.sparkContext
    files_bc, heavy_bc, tomb_bc = (
        sc.broadcast(by_bucket), sc.broadcast(heavy), sc.broadcast(tomb)
    )

    def task(batches):
        import pandas as pd

        for pdf in batches:
            for b in pdf["id"].tolist():
                fl = files_bc.value.get(b)
                if fl:
                    n, p = _merge_bucket(
                        _pa_read(fl, columns=["term", "range_id"] + _MERGE_IN_COLS),
                        "range_id", heavy_bc.value, tomb_bc.value, cfg,
                        os.path.join(gdir, f"bucket={b}"),
                    )
                    yield pd.DataFrame({"bucket": [b], "rows": [n], "postings": [p]})

    n_b = cfg.num_term_buckets
    try:
        out = (
            spark.range(0, n_b, 1, numPartitions=n_b)
            .mapInPandas(task, "bucket long, rows long, postings long")
            .collect()
        )
    finally:
        for bc in (files_bc, heavy_bc, tomb_bc):
            bc.destroy()
    return {int(r["bucket"]): (int(r["rows"]), int(r["postings"])) for r in out}


def _check_bucket_files(gdir: str, per_bucket: dict[int, tuple[int, int]]) -> None:
    """Every bucket reported with rows must have its file where the driver
    can see it. Task-written files on a non-shared local path would
    otherwise commit a generation the driver (and every reader) misses."""
    missing = sorted(
        b
        for b, (n, _) in per_bucket.items()
        if n and not os.path.isfile(os.path.join(gdir, f"bucket={b}", BUCKET_FILE))
    )
    if missing:
        raise RuntimeError(
            f"merge into {gdir}: buckets {missing} reported rows but their "
            "files are not visible to the driver (executors must write to "
            "a path the driver shares)"
        )


def _merge_shuffled(spark, paths, cfg, group_ids, in_postings, tomb, gdir) -> tuple[int, int]:
    """Big RUNS-sourced merge (first build / large append): reclassify
    runs against the split set, then one (term, salt) shuffle into
    :func:`merge_runs_segments` — the salt spreads one heavy term's doc
    ranges over many tasks. Returns (rows, postings) written."""
    from dawnsearch_spark.operators.merge import merge_runs_segments

    runs_raw = spark.read.option("basePath", paths.runs).parquet(
        *[os.path.join(paths.runs, f"group={g}") for g in group_ids]
    )
    split_terms = (
        spark.read.parquet(paths.terms).filter(F.col("heavy")).select("term")
        .union(runs_raw.filter(F.col("salt") >= 0).select("term"))
        .distinct()
    )
    tomb_bc = spark.sparkContext.broadcast(tomb) if tomb is not None else None
    # sized to the INPUT, not the cluster: ~250k postings per merge task
    # (32 near-empty shuffle tasks cost whole seconds on small input)
    merge_parts = max(1, min(cfg.build_partitions, in_postings // 250_000 + 1))
    seg = merge_runs_segments(
        reclassify_runs(runs_raw, split_terms, cfg), cfg, merge_parts,
        tombstones_bc=tomb_bc,
    )
    try:
        (
            seg.repartition(merge_parts, "bucket")
            .sortWithinPartitions("term", "range_id")
            # term-sorted files + ~1 MB row groups: the same term-pruning
            # layout the kernel writes
            .write.mode("overwrite")
            .option("parquet.block.size", str(1 << 20))
            .partitionBy("bucket")
            .parquet(gdir)
        )
    finally:
        if tomb_bc is not None:
            tomb_bc.destroy()
    import glob as _glob

    # an all-empty-content batch leaves no schema-bearing file: 0 rows
    bt = _pa_read(
        sorted(_glob.glob(os.path.join(gdir, "bucket=*", "*.parquet"))),
        columns=["n_docs"],
    )
    if not bt.num_rows:
        return 0, 0
    return bt.num_rows, int(bt.column("n_docs").to_numpy(zero_copy_only=False).sum())


def merge_groups_to_generation(
    spark: SparkSession,
    paths: IndexPaths,
    cfg: EngineConfig,
    group_ids: list[int],
    gen_id: int,
    source_gens: list[dict] | None = None,
    tombstones=None,
) -> dict:
    """Merge the given run groups into segments/gen=<gen_id>.

    ``source_gens`` (committed generation dicts covering exactly
    ``group_ids``) lets the merge source from the POSTINGS ALREADY IN
    those generations' segment rows once runs/ is gone (``gc_runs``):
    the rows reinterpret as runs with salt = range_id, zero re-encoding,
    and both sources merge to the same rows.

    ``tombstones`` (doc_ids) drops those docs' postings during the merge —
    the purge path of the delete lifecycle.

    Placement, by input postings: at or under ``DRIVER_MERGE_MAX_POSTINGS``
    the driver runs :func:`_merge_bucket` per bucket (zero Spark jobs);
    above it a segment-sourced merge runs the same kernel as one Spark
    task per bucket, and a runs-sourced merge takes the (term, salt)
    shuffle. Every placement writes the same rows."""
    import shutil

    import numpy as np

    salt_col, files = _merge_source(paths, group_ids, source_gens)
    if source_gens is not None:
        in_postings = sum(int(g.get("postings", 0) or 0) for g in source_gens)
    else:
        in_postings = sum(
            int((read_manifest(paths.root, f"runs_group_{g}") or {}).get("postings", 0) or 0)
            for g in group_ids
        )
    gdir = os.path.join(paths.segments, f"gen={gen_id}")
    shutil.rmtree(gdir, ignore_errors=True)  # crash leftover of an uncommitted attempt
    tomb = None
    if tombstones is not None and len(tombstones):
        tomb = np.sort(np.asarray(tombstones, np.int64))
    if in_postings > DRIVER_MERGE_MAX_POSTINGS and salt_col == "salt":
        rows, postings = _merge_shuffled(
            spark, paths, cfg, group_ids, in_postings, tomb, gdir
        )
    else:
        heavy = _heavy_terms(paths)
        if in_postings <= DRIVER_MERGE_MAX_POSTINGS:
            per_bucket = _merge_on_driver(cfg, files, salt_col, heavy, tomb, gdir)
        else:
            per_bucket = _merge_in_tasks(spark, cfg, files, heavy, tomb, gdir)
        _check_bucket_files(gdir, per_bucket)
        rows = sum(n for n, _ in per_bucket.values())
        postings = sum(p for _, p in per_bucket.values())
    return {
        "gen": int(gen_id),
        "groups": [int(g) for g in group_ids],
        "rows": int(rows),
        "postings": int(postings),
        "bytes": dir_bytes(gdir),
    }


#: Metadata-row budget for the DRIVER-SIDE stage-1b aggregation: the
#: dictionary update is a pure metadata aggregate (term, n_docs, tf_sum
#: over run/segment rows), so under the budget pandas runs it in-process —
#: identical sums, no Spark jobs. Larger inputs aggregate in Spark.
DRIVER_DICT_MAX_ROWS = int(
    os.environ.get("DAWNSEARCH_SPARK_DRIVER_DICT_ROWS", 6_000_000)
)


def _write_stats_manifest(
    paths: IndexPaths, fp: str, eff_heavy: int, n_docs_total: int,
    n_terms: int, n_heavy: int, n_postings: int, total_tokens: int, log,
) -> None:
    write_manifest(
        paths.root,
        "stats",
        {
            "fingerprint": fp,
            "n_docs": n_docs_total,
            "avgdl": total_tokens / n_docs_total if n_docs_total else 0.0,
            "total_tokens": total_tokens,
            "n_terms": int(n_terms),
            "n_heavy_terms": int(n_heavy),
            "n_postings": int(n_postings),
            "heavy_df_threshold": eff_heavy,
        },
    )
    log(
        f"stage1b stats committed: n_docs={n_docs_total} "
        f"total_tokens={total_tokens} heavy={int(n_heavy)}"
    )


def _stage1b_plan(paths: IndexPaths, fp: str, all_ids: set, t_covered: set | None) -> dict:
    """What stage 1b aggregates, decided once for both aggregators:

    * ``stats`` — the committed dictionary already covers the plan (a crash
      after the dictionary swap): recount the stats only;
    * ``fold`` — only new groups are uncovered (an append): fold their run
      metadata into the committed dictionary, O(dict + new groups);
    * ``full`` — re-aggregate (first build / purge / crash recovery).
      Sources per GENERATION all-or-nothing (a generation's segment rows
      cannot be attributed to individual groups): a generation with a GC'd
      member group contributes its segment rows (df = Σ n_docs and
      cf = Σ tf_sum hold there too), every other group its run dir.

    Returns {mode, runs, segs (metadata files), rows (metadata rows the
    aggregation reads), log (progress line or None)}."""
    import pyarrow.parquet as papq

    def run_dir(g: int) -> str:
        return os.path.join(paths.runs, f"group={g}")

    plan = {"mode": "full", "runs": [], "segs": [], "log": None}
    dict_files = _pa_files(paths.terms) if _has_success(paths.terms) else []
    if dict_files and t_covered == all_ids:
        plan["mode"] = "stats"
        plan["log"] = "stage1b dictionary already covers the plan; stats recount only"
    elif dict_files and t_covered and t_covered < all_ids:
        new_ids = sorted(all_ids - t_covered)
        plan["mode"] = "fold"
        plan["runs"] = [f for g in new_ids for f in _pa_files(run_dir(g))]
        plan["log"] = (
            f"stage1b dictionary updated incrementally: groups {new_ids} "
            "folded into the committed dictionary (old runs untouched)"
        )
    else:
        dict_files = []
        seg_m = read_manifest(paths.root, "segments") or {}
        gen_list = (
            (seg_m.get("generations") or []) if seg_m.get("fingerprint") == fp else []
        )
        used_gens = [
            g for g in gen_list if not all(os.path.isdir(run_dir(int(x))) for x in g["groups"])
        ]
        gen_covered = sorted({int(x) for g in used_gens for x in g["groups"]})
        runs_groups = sorted(g for g in all_ids if g not in set(gen_covered))
        missing = [g for g in runs_groups if not os.path.isdir(run_dir(g))]
        if missing:
            raise FileNotFoundError(
                f"dictionary rebuild: run groups {missing} have neither "
                "run dirs nor a committed segment generation"
            )
        plan["runs"] = [f for g in runs_groups for f in _pa_files(run_dir(g))]
        plan["segs"] = _generation_files(paths, used_gens)
        if used_gens:
            plan["log"] = (
                f"stage1b dictionary rebuilt from segment rows for GC'd groups {gen_covered}"
                + (f" + run groups {runs_groups}" if runs_groups else "")
            )
    plan["rows"] = sum(
        papq.read_metadata(f).num_rows
        for f in dict_files + plan["runs"] + plan["segs"]
    )
    return plan


def _stage1b_pandas(plan: dict, paths: IndexPaths, cfg: EngineConfig,
                    eff_heavy: int, tmp: str) -> tuple[int, int, int, int]:
    """Driver aggregator: pyarrow reads + a pandas groupby; writes the new
    dictionary to ``tmp`` (unless ``stats``). Returns (n_terms, n_heavy,
    n_postings, total_tokens)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as papq

    from dawnsearch_spark.operators.merge import term_bucket_py

    if plan["mode"] == "stats":
        tb = _pa_read(paths.terms, columns=["df", "cf", "heavy"])
        return (
            tb.num_rows,
            int(tb.column("heavy").to_numpy(zero_copy_only=False).sum()),
            int(tb.column("df").to_numpy(zero_copy_only=False).sum()),
            int(tb.column("cf").to_numpy(zero_copy_only=False).sum()),
        )
    meta = _pa_read(plan["runs"] + plan["segs"], columns=["term", "n_docs", "tf_sum"])
    agg = meta.to_pandas().groupby("term", sort=False).agg(
        df=("n_docs", "sum"), cf=("tf_sum", "sum")
    )
    if plan["mode"] == "fold":
        old = _pa_read(paths.terms, columns=["term", "df", "cf"]).to_pandas()
        agg = old.set_index("term").add(agg, fill_value=0)
    agg = agg.sort_index()
    terms = agg.index.to_numpy(dtype=object)
    df_v = agg["df"].to_numpy(np.int64)
    cf_v = agg["cf"].to_numpy(np.int64)
    heavy_v = df_v > eff_heavy
    bucket_v = np.fromiter(
        (term_bucket_py(str(t), cfg.num_term_buckets) for t in terms),
        np.int64,
        len(terms),
    )
    schema = pa.schema(
        [("term", pa.string()), ("df", pa.int64()), ("cf", pa.int64()),
         ("heavy", pa.bool_()), ("bucket", pa.int64())]
    )
    os.makedirs(tmp)
    papq.write_table(
        pa.table(
            {"term": terms, "df": df_v, "cf": cf_v, "heavy": heavy_v, "bucket": bucket_v},
            schema=schema,
        ),
        os.path.join(tmp, "part-00000.parquet"),
        compression="snappy",
    )
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    return len(terms), int(heavy_v.sum()), int(df_v.sum()), int(cf_v.sum())


def _stage1b_spark(spark: SparkSession, plan: dict, paths: IndexPaths,
                   cfg: EngineConfig, eff_heavy: int, tmp: str) -> tuple[int, int, int, int]:
    """Distributed aggregator over the same plan (inputs above
    ``DRIVER_DICT_MAX_ROWS``); same outputs as :func:`_stage1b_pandas`."""
    src = paths.terms
    if plan["mode"] != "stats":
        meta = spark.createDataFrame([], "term string, n_docs long, tf_sum long")
        for files in (plan["runs"], plan["segs"]):
            if files:
                meta = meta.unionByName(
                    spark.read.parquet(*files).select("term", "n_docs", "tf_sum")
                )
        agg = meta.groupBy("term").agg(
            F.sum("n_docs").cast("long").alias("df"),
            F.sum("tf_sum").cast("long").alias("cf"),
        )
        if plan["mode"] == "fold":
            agg = (
                spark.read.parquet(paths.terms).select("term", "df", "cf")
                .unionByName(agg)
                .groupBy("term")
                .agg(F.sum("df").cast("long").alias("df"),
                     F.sum("cf").cast("long").alias("cf"))
            )
        agg.withColumn("heavy", F.col("df") > F.lit(eff_heavy)).withColumn(
            "bucket", F.pmod(F.crc32(F.col("term")), F.lit(cfg.num_term_buckets))
        ).write.mode("overwrite").parquet(tmp)
        src = tmp
    t = spark.read.parquet(src).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(F.col("heavy").cast("int")).alias("n_heavy"),
        F.sum("df").alias("n_postings"),
        F.sum("cf").alias("total_tokens"),
    ).collect()[0]
    return (
        int(t["n_terms"]), int(t["n_heavy"] or 0),
        int(t["n_postings"] or 0), int(t["total_tokens"] or 0),
    )


def _stage1b(spark: SparkSession, paths: IndexPaths, cfg: EngineConfig, fp: str,
             eff_heavy: int, all_ids: set, t_covered: set | None,
             n_docs_total: int, log) -> None:
    """Stage-1b commit: plan once, aggregate in pandas at or under
    ``DRIVER_DICT_MAX_ROWS`` (Spark above), then tmp-write → swap → terms
    manifest → stats manifest. Crash-safe: a crash before the terms
    manifest re-plans from scratch on the next build."""
    import shutil

    plan = _stage1b_plan(paths, fp, all_ids, t_covered)
    tmp = paths.terms + "_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if plan["rows"] <= DRIVER_DICT_MAX_ROWS:
        totals = _stage1b_pandas(plan, paths, cfg, eff_heavy, tmp)
    else:
        totals = _stage1b_spark(spark, plan, paths, cfg, eff_heavy, tmp)
    if plan["mode"] != "stats":
        shutil.rmtree(paths.terms, ignore_errors=True)
        os.rename(tmp, paths.terms)
        spark.catalog.refreshByPath(paths.terms)
        write_manifest(
            paths.root,
            "terms",
            {"fingerprint": fp, "groups": sorted(int(g) for g in all_ids)},
        )
    if plan["log"]:
        log(plan["log"])
    _write_stats_manifest(paths, fp, eff_heavy, n_docs_total, *totals, log=log)


def build_index(
    spark: SparkSession,
    source_docs: DataFrame,
    out_dir: str,
    cfg: EngineConfig,
    n_groups: int = 8,
    parallel_groups: int = 1,
    log=lambda msg: None,
) -> dict:
    """Build (or resume) the full index under ``out_dir``. Returns counters."""
    paths = IndexPaths(out_dir)
    fp = config_fingerprint(cfg)
    os.makedirs(out_dir, exist_ok=True)

    # ---- stage 0: forward index (docID-assigned documents) ----
    if not is_committed(paths.root, "documents", fp):
        if read_manifest(paths.root, "documents") is None and _has_success(
            paths.documents
        ):
            # Crash recovery (append_documents invalidates the documents
            # manifest BEFORE mutating the parquet): the parquet is the
            # source of truth — recount and re-commit instead of
            # overwriting the forward index. Rows appended right before a
            # crash simply join the corpus here (their doc_ids are dense by
            # construction, asserted below).
            back = spark.read.parquet(paths.documents)
            agg = back.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("doc_id").alias("nd"),
                F.max("doc_id").alias("mx"),
            ).collect()[0]
            n = int(agg["n"])
            id_space = int(agg["mx"] if agg["mx"] is not None else -1) + 1
            if n != int(agg["nd"]):
                raise RuntimeError(
                    f"forward index at {paths.documents} has duplicate "
                    f"doc_ids (count={n}, distinct={agg['nd']}); refusing "
                    "to adopt"
                )
            # n < id_space is legal: purge_deletes leaves docID holes —
            # the dupe check above is the real corruption guard
            write_manifest(
                paths.root,
                "documents",
                {
                    "fingerprint": fp,
                    "n_docs": n,
                    "id_space": id_space,
                    "bytes": dir_bytes(paths.documents),
                    "recovered": True,
                },
            )
            log(f"stage0 documents recovered from parquet: {n} docs")
        else:
            docs = source_docs
            if "doc_id" not in docs.columns:
                if "content_sha" not in docs.columns:
                    docs = docs.withColumn(
                        "content_sha", F.sha2(F.col(cfg.content_col), 256)
                    )
                # Pre-dedup source count only sizes the file layout: on a
                # parquet source it is footer-metadata-only (sha and every
                # other expression is pruned away).
                n0 = source_docs.count()
                # identity-key dedup on the FIRST build too, not only on
                # appends (deterministic keeper = smallest content_sha per
                # key), fused into assign_doc_ids' Arrow pass — stage 0 has
                # exactly ONE full-data shuffle (the docID range sort); the
                # assigned output partitions are contiguous sorted doc_id
                # ranges, so they are written as-is (no repartitionByRange
                # before the write, no WindowExec hash exchange)
                docs = assign_doc_ids(
                    docs,
                    cfg.id_cols,
                    parts=_doc_partitions(cfg, n_groups, n0),
                    dedup_order_col="content_sha",
                )
                docs.write.mode("overwrite").parquet(paths.documents)
                # the written parquet is now the source of truth — release
                # the assignment shuffle's cached copy of the corpus
                cached = getattr(docs, "_dawnsearch_persisted", None)
                if cached is not None:
                    cached.unpersist()
                # exact post-dedup count from parquet footers (metadata-only)
                n = spark.read.parquet(paths.documents).count()
            else:
                if "content_sha" not in docs.columns:
                    docs = docs.withColumn(
                        "content_sha", F.sha2(F.col(cfg.content_col), 256)
                    )
                n = docs.count()
                (
                    docs.repartitionByRange(
                        _doc_partitions(cfg, n_groups, n), "doc_id"
                    )
                    .sortWithinPartitions("doc_id")
                    .write.mode("overwrite")
                    .parquet(paths.documents)
                )
            write_manifest(
                paths.root,
                "documents",
                {"fingerprint": fp, "n_docs": n, "id_space": n,
                 "bytes": dir_bytes(paths.documents)},
            )
            log(f"stage0 documents committed: {n} docs")
    documents = spark.read.parquet(paths.documents)

    docs_m = read_manifest(paths.root, "documents")
    n_docs_total = int(docs_m["n_docs"])
    # docID space may exceed the live count after purge_deletes (holes);
    # group planning covers the ID SPACE, stats use the live count
    id_space = int(docs_m.get("id_space", n_docs_total))
    eff_heavy = cfg.effective_heavy_df_threshold(n_docs_total)

    # ---- stage 1a: group plan + SAMPLED heavy-term detection ----
    # The build makes exactly ONE full pass over document content (stage
    # 2): salting decisions come from a cheap sampled tokenize here, and
    # the exact term dictionary + BM25 globals are derived later from run
    # METADATA (stage 1b) at no extra content cost. Sampling noise at the
    # heavy boundary is safe in both directions: sampled-heavy-but-light
    # terms simply serve from salted rows, sampled-light-but-heavy runs
    # are re-salted at merge (reclassify_runs). The sample is seeded and
    # the forward index is immutable between resumes, so resumed builds
    # make identical salting decisions (segment byte-identity holds).
    plan = _plan_groups(paths.root, id_space, n_groups, cfg.range_size, fp)
    actual_groups = len(plan)
    pending = [(g, lo, hi) for g, lo, hi, committed in plan if not committed]

    # Drop run dirs that are not part of this plan (e.g. left by a build
    # under a different config fingerprint): stage 1b and stage 3 read the
    # whole runs directory, so stale groups would poison the dictionary.
    if os.path.isdir(paths.runs):
        import shutil

        plan_ids = {g for g, _, _, _ in plan}
        for d in os.listdir(paths.runs):
            if d.startswith("group=") and int(d.split("=", 1)[1]) not in plan_ids:
                shutil.rmtree(os.path.join(paths.runs, d), ignore_errors=True)
                log(f"stage1a: removed stale run dir {d}")

    heavy_bc = None
    use_join_salting = False
    sampled_heavy = None
    # Detection scope: salting only affects the PENDING groups' runs (a
    # misclassification either way is repaired at merge by
    # reclassify_runs), so on an APPEND the committed dictionary supplies
    # the old corpus's heavy set EXACTLY — one column-pruned read of the
    # (bounded, ~avgdl/heavy_df_ratio) heavy terms — and only the NEW doc
    # range is ever sampled. Detection cost is O(batch), never O(corpus):
    # the pre-round-5 behavior sampled the WHOLE corpus per append (the
    # min-docs floor drove the fraction toward 1.0 — a full re-tokenize
    # of the index to salt one batch).
    committed_heavy: frozenset = frozenset()
    pending_lo = min((lo for _, lo, _ in pending), default=0)
    terms_m0 = read_manifest(paths.root, "terms")
    # the range restriction applies only when the committed dictionary
    # actually covers the committed groups (a real append). A partial
    # FIRST build resumed after a crash has no dictionary yet — it keeps
    # the whole-corpus sample, so a resumed build makes the SAME salting
    # decisions as a never-crashed one (segment byte-identity on resume).
    dict_ok = (
        bool(pending)
        and pending_lo > 0
        and terms_m0 is not None
        and terms_m0.get("fingerprint") == fp
        and {int(x) for x in terms_m0.get("groups", [])}
        == {g for g, _, _, c in plan if c}
        and _has_success(paths.terms)
    )
    if dict_ok:
        committed_heavy = _heavy_terms(paths)  # driver-side: no Spark job per append
        sample_lo = pending_lo
        n_sample_docs = max(0, id_space - pending_lo)
    else:
        sample_lo = 0
        n_sample_docs = n_docs_total
    if pending and n_sample_docs <= cfg.heavy_sample_min_docs:
        # Small pending range: the "sampled" detection would run at
        # frac ≈ 1.0, i.e. a full tokenize pass over the pending content
        # (this was the round-2 bench regression at exactly 20k docs).
        # Skip the pass — pending runs salt by the committed heavy set
        # alone (empty on a first build), and the merge re-salts the
        # exactly-heavy remainder from the exact dictionary
        # (reclassify_runs): identical final layout, since a term is
        # served salted iff its exact df exceeds the threshold.
        heavy_bc = spark.sparkContext.broadcast(committed_heavy)
        log(
            f"stage1a: pending range <= heavy_sample_min_docs — detection "
            f"pass skipped; {len(committed_heavy)} committed heavy terms "
            "pre-salt, merge-time reclassify covers the rest"
        )
    elif pending:
        frac = max(
            cfg.heavy_sample_fraction, cfg.heavy_sample_min_docs / n_sample_docs
        )
        sample = (
            documents.filter(F.col("doc_id") >= sample_lo) if sample_lo else documents
        ).sample(fraction=frac, seed=42)
        sampled_heavy = document_frequencies_fast(sample, cfg.content_col).filter(
            F.col("df") > F.lit(max(1.0, eff_heavy * frac))
        ).select("term")
        probe = sampled_heavy.limit(cfg.max_broadcast_heavy_terms + 1).collect()
        if len(probe) + len(committed_heavy) <= cfg.max_broadcast_heavy_terms:
            # tiny (stopword-like terms only): ship once per executor as a
            # Spark broadcast, NOT captured in each task closure
            heavy_set = frozenset(r["term"] for r in probe) | committed_heavy
            heavy_bc = spark.sparkContext.broadcast(heavy_set)
            log(
                f"stage1a sampled heavy terms: {len(heavy_set)} "
                f"(fraction={frac:.4f} over docs >= {sample_lo}, "
                f"threshold={eff_heavy})"
            )
        else:
            # the heavy set itself is too large to ship — fall back to the
            # fully-distributed join-based salting (with_salt shuffle join)
            use_join_salting = True
            if committed_heavy:
                sampled_heavy = sampled_heavy.unionByName(
                    spark.createDataFrame(
                        [(t,) for t in committed_heavy], "term string"
                    )
                ).distinct()
            log(
                f"stage1a: > {cfg.max_broadcast_heavy_terms} sampled heavy terms; "
                "using join-based salting"
            )

    def _build_group(g: int, lo: int, hi: int) -> None:
        name = f"runs_group_{g}"
        group_docs = documents.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        if use_join_salting:
            from dawnsearch_spark.operators.postings import build_posting_runs, with_salt
            from dawnsearch_spark.operators.tf import term_frequencies

            tf = term_frequencies(group_docs, cfg.content_col)
            salted = with_salt(tf, sampled_heavy, cfg.range_size, broadcast=False)
            runs = build_posting_runs(salted, cfg.build_partitions)
        else:
            runs = build_posting_miniruns(
                group_docs, heavy_bc, cfg.range_size, cfg.content_col
            )
        gdir = os.path.join(paths.runs, f"group={g}")
        runs.write.mode("overwrite").parquet(gdir)
        # counters: rows + postings only (countDistinct(term) would be an
        # extra full shuffle just for a lineage counter; run-rows-per-term
        # is recoverable from the terms dictionary if ever needed).
        # Driver-side pyarrow read of the one metadata column — the Spark
        # readback job was pure fixed overhead per append.
        _rt = _pa_read(gdir, columns=["n_docs"])
        agg = {
            "rows": _rt.num_rows,
            "postings": int(
                _rt.column("n_docs").to_numpy(zero_copy_only=False).sum()
            ) if _rt.num_rows else 0,
        }
        write_manifest(
            paths.root,
            name,
            {
                "fingerprint": fp,
                "group": g,
                "doc_lo": lo,
                "doc_hi": hi,
                "rows": int(agg["rows"]),
                "postings": int(agg["postings"] or 0),
                "bytes": dir_bytes(gdir),
            },
        )
        log(f"stage2 group {g} committed: docs [{lo},{hi}) postings={int(agg['postings'] or 0)}")

    # Groups are independent Spark jobs (disjoint doc ranges, own manifest
    # granule) — with parallel_groups > 1 they are submitted concurrently
    # so the scheduler can fill the cluster when one group's stage has
    # fewer tasks than cores (sequential submission serializes per-group
    # tail latency). Resume semantics are unchanged: each group commits
    # its own manifest; a crash leaves whichever groups finished.
    if parallel_groups > 1 and len(pending) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(parallel_groups, len(pending))) as pool:
            list(pool.map(lambda args: _build_group(*args), pending))
    else:
        for g, lo, hi in pending:
            _build_group(g, lo, hi)

    # ---- stage 1b: exact stats + term dictionary from run METADATA ----
    # df = sum of run lengths (doc sets are disjoint across batches/groups),
    # cf = sum of per-run tf sums, total_tokens = sum(cf) — all exact, from
    # the compact run rows; the corpus content is never re-tokenized. The
    # BM25 globals follow (avgdl = total_tokens / n_docs; integer-exact
    # before the one float division, identical to avg(doclen)).
    #
    # INCREMENTAL on append: the ``terms`` manifest records which run
    # groups the committed dictionary covers. When only new groups are
    # uncovered, the new dictionary = old dictionary ⊕ (aggregation of
    # the NEW groups' run metadata alone), summed per term — df/cf sums
    # over disjoint doc sets are exact, and the heavy flag is recomputed
    # from the summed df under the CURRENT (n_docs-scaled) threshold. An
    # append therefore reads O(dict + new-group metadata), never the
    # whole runs directory (which at 10^12 docs is billions of rows of
    # per-group term metadata per append). Crash-safe by construction:
    # tmp-write → swap → manifest; any crash falls back to the full
    # re-aggregation path on the next build.
    if not is_committed(paths.root, "stats", fp):
        all_ids = {g for g, _, _, _ in plan}
        terms_m = read_manifest(paths.root, "terms")
        t_covered = None
        if (
            terms_m is not None
            and terms_m.get("fingerprint") == fp
            and "groups" in terms_m
        ):
            t_covered = {int(x) for x in terms_m["groups"]}
        _stage1b(
            spark, paths, cfg, fp, eff_heavy, all_ids, t_covered,
            n_docs_total, log,
        )
    stats = load_stats(paths.root)

    # ---- stage 3: merge runs -> block-max segment generations ----
    # Tiered layout (Lucene-style): segments/gen=K/bucket=B/*.parquet.
    # The first build merges every run group into gen=0. An APPEND merges
    # only its NEW groups' runs into a new generation — O(batch) IO, not
    # O(index) — which the stats-free row format makes safe: rows carry
    # (max_tf, min_dl) bounds and per-row n_docs, so query-time idf /
    # avgdl / block bounds are always derived from CURRENT stats and
    # nothing stored goes stale as N grows (reference analog: usearch
    # ``add`` + periodic save, search_provider.rs:250-286, :173-181 —
    # append is O(batch), persistence periodic). When the generation
    # count exceeds ``cfg.max_segment_generations``, one compaction job
    # re-merges ALL runs into a single fresh generation (bounded read
    # amplification at query time, amortized write amplification).
    all_group_ids = {g for g, _, _, _ in plan}
    seg_m = read_manifest(paths.root, "segments")
    generations: list[dict] = []
    if seg_m is not None and seg_m.get("fingerprint") == fp:
        generations = list(seg_m.get("generations") or [])
    covered: set[int] = set()
    for gd in generations:
        covered |= {int(x) for x in gd["groups"]}
    if covered - all_group_ids:
        # a generation references groups outside the current plan (stale
        # state under a config change raced with manifests): full rebuild
        generations, covered = [], set()
    pending_merge = sorted(all_group_ids - covered)

    def _clean_unlisted_gen_dirs() -> None:
        import shutil

        listed = {int(g["gen"]) for g in generations}
        if os.path.isdir(paths.segments):
            for d in os.listdir(paths.segments):
                if d.startswith("gen=") and int(d.split("=", 1)[1]) not in listed:
                    shutil.rmtree(os.path.join(paths.segments, d), ignore_errors=True)
                    log(f"stage3: removed uncommitted segment dir {d}")

    def _merge_groups_to_gen(
        group_ids: list[int], gen_id: int, source_gens: list[dict] | None = None
    ) -> dict:
        return merge_groups_to_generation(
            spark, paths, cfg, group_ids, gen_id, source_gens=source_gens
        )

    def _commit_segments(gens: list[dict]) -> None:
        write_manifest(
            paths.root,
            "segments",
            {
                "fingerprint": fp,
                "generations": gens,
                "rows": sum(g["rows"] for g in gens),
                "postings": sum(g["postings"] for g in gens),
                "bytes": dir_bytes(paths.segments),
                "n_groups": actual_groups,
            },
        )

    if not all_group_ids and not (
        seg_m is not None and seg_m.get("fingerprint") == fp
    ):
        # empty corpus: no build groups exist (and no runs were ever
        # written), so there is nothing to merge. Commit a
        # schema-bearing EMPTY segments parquet (non-partitioned — a
        # partitionBy write of 0 rows leaves no schema to read back)
        # so Engine boot and searches work and return no hits.
        from dawnsearch_spark.operators.merge import SEGMENT_SCHEMA

        spark.createDataFrame([], SEGMENT_SCHEMA).write.mode(
            "overwrite"
        ).parquet(paths.segments)
        write_manifest(
            paths.root,
            "segments",
            {"fingerprint": fp, "generations": [], "rows": 0, "postings": 0,
             "bytes": dir_bytes(paths.segments), "n_groups": actual_groups},
        )
        log("stage3 segments committed: 0 rows (empty corpus)")
        return {
            "n_docs": stats.n_docs,
            "avgdl": stats.avgdl,
            "n_groups": actual_groups,
            "segment_rows": 0,
            "postings": 0,
            "index_bytes": dir_bytes(paths.root),
        }

    if pending_merge:
        import shutil

        if not generations:
            # first build / full rebuild: wipe any stale layout (legacy
            # root files, fingerprint-mismatched gens), then gen=0
            if read_manifest(paths.root, "segments") is not None:
                os.remove(os.path.join(paths.root, MANIFEST_DIR_NAME, "segments.json"))
            if os.path.isdir(paths.segments):
                shutil.rmtree(paths.segments, ignore_errors=True)
            gd = _merge_groups_to_gen(sorted(all_group_ids), 0)
            generations = [gd]
            _commit_segments(generations)
            log(
                f"stage3 gen 0 committed: {gd['rows']} rows "
                f"({gd['postings']} postings, full merge)"
            )
        else:
            _clean_unlisted_gen_dirs()
            next_gen = max(int(g["gen"]) for g in generations) + 1
            gd = _merge_groups_to_gen(pending_merge, next_gen)
            generations = generations + [gd]
            _commit_segments(generations)
            log(
                f"stage3 gen {next_gen} committed: {gd['rows']} rows for "
                f"groups {pending_merge} (incremental append — "
                f"{gd['bytes']} bytes written, index untouched)"
            )
            if len(generations) > cfg.max_segment_generations:
                # SIZE-TIERED compaction (Lucene-style): merge only the
                # smallest generations — the minimum count that restores
                # the bound, greedily extended while the next-smallest is
                # no larger than everything taken so far (similar-sized
                # tiers merge together; the big old tiers are left
                # untouched). A full re-merge every time the cap is hit
                # would amortize to O(index) write IO per append; tiered
                # merging amortizes to O(log) rewrites per doc. Manifest
                # commits FIRST, then the old directories drop (readers
                # only follow the manifest, so a crash in between leaves
                # garbage dirs that the next build sweeps — never
                # double-served postings).
                by_size = sorted(generations, key=lambda g: (g["bytes"], g["gen"]))
                m = len(generations) - cfg.max_segment_generations + 1
                taken = by_size[:m]
                acc = sum(g["bytes"] for g in taken)
                for g in by_size[m:]:
                    if g["bytes"] <= acc:
                        taken.append(g)
                        acc += g["bytes"]
                    else:
                        break
                merge_groups = sorted(x for g in taken for x in g["groups"])
                comp_gen = next_gen + 1
                # source_gens: when the taken groups' run dirs are gone
                # (gc_runs), compaction re-reads the taken generations'
                # own segment rows — the index is self-sufficient
                gd = _merge_groups_to_gen(merge_groups, comp_gen, source_gens=taken)
                taken_ids = {int(g["gen"]) for g in taken}
                generations = [
                    g for g in generations if int(g["gen"]) not in taken_ids
                ] + [gd]
                generations.sort(key=lambda g: int(g["gen"]))
                _commit_segments(generations)
                for gid in taken_ids:
                    shutil.rmtree(
                        os.path.join(paths.segments, f"gen={gid}"),
                        ignore_errors=True,
                    )
                log(
                    f"stage3 size-tiered compaction: generations "
                    f"{sorted(taken_ids)} (groups {merge_groups}) -> gen "
                    f"{comp_gen} ({gd['rows']} rows); "
                    f"{len(generations)} generations remain"
                )

    if cfg.gc_runs:
        gc_run_dirs(paths.root, log=log)

    seg_m = read_manifest(paths.root, "segments") or {}
    return {
        "n_docs": stats.n_docs,
        "avgdl": stats.avgdl,
        "n_groups": actual_groups,
        "segment_rows": seg_m.get("rows"),
        "postings": seg_m.get("postings"),
        "index_bytes": dir_bytes(paths.root),
    }
