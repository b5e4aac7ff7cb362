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
  at or under ``DRIVER_MERGE_MAX_POSTINGS`` input postings, as one Spark
  task per bucket above it. Segment-sourced inputs (compaction, purge)
  are already bucketed on disk, so their tasks need no exchange;
  runs-sourced inputs (first build, append) reach their bucket's task
  through one exchange keyed by ``bucket``. The kernel alone decides
  each term's layout, from the exact dictionary;
* runs are transient: a group's run dir is read once, by the merge that
  first commits the group, and every build sweeps the run dirs of
  merged, folded groups (:func:`gc_run_dirs`). Only the ``runs_group_*``
  manifests stay; they drive resume;
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
from dawnsearch_spark.operators.postings import build_posting_miniruns
from dawnsearch_spark.operators.tf import CorpusStats


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
    (empty for an empty index or an uncommitted one)."""
    m = read_manifest(root, "segments") or {}
    return list(m.get("generations") or [])


def gen_ids_with_rows(gens: list[dict]) -> list[int]:
    """Ids of the given generations that hold rows. A rows == 0
    generation (an all-empty-content append) has no files, so every
    reader skips it; pass :func:`segment_generations` for the serving
    set."""
    return [int(g["gen"]) for g in gens if int(g.get("rows", 0) or 0) > 0]


def read_segments(spark: SparkSession, root: str) -> DataFrame:
    """The serving segments relation = union of the MANIFEST-LISTED
    generation directories (partition columns ``gen`` and ``bucket`` are
    preserved via basePath, so bucket pruning still prunes files). Only
    manifest-listed generations are read — a crash between a compaction's
    manifest commit and its old-directory cleanup must not double-serve
    postings. An index with no rows reads as an empty relation."""
    paths = IndexPaths(root)
    dirs = [
        os.path.join(paths.segments, f"gen={g}")
        for g in gen_ids_with_rows(segment_generations(root))
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
    dictionary AND merged into a committed segment generation. Nothing
    reads such a dir again (compaction, purge and the stage-1b rebuild
    read committed generations' segment rows), so every build calls this
    after its last segments commit; a crash before the sweep leaves dirs
    that the next build sweeps. The runs_group_* manifests are KEPT: they
    drive the resume plan (committed spans). Returns the swept group
    ids."""
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
        log(f"stage3 swept run dirs of merged groups {swept}")
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

_MERGE_IN_COLS = ["term", "n_docs", "doc_blob", "tf_blob", "dl_blob"]


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


def _merge_bucket(rows, heavy, tomb, cfg: EngineConfig, bucket_dir: str) -> tuple[int, int]:
    """THE merge kernel: merge, pack and write one term bucket.

    ``rows`` is a pyarrow table of run-shaped rows of ONE bucket: posting
    runs, or segment rows of either layout (a segment row's blobs are
    valid run blobs, and its ``range_id`` is not read). Keys never span
    buckets (bucket = crc32(term)), so a bucket merges on its own. The
    dictionary alone decides each term's layout: ``heavy`` terms come out
    range-split, every other term as one light row, whatever layout its
    input rows had. Output: ``bucket_dir/part-00000``
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
    cols = merge_rows_columnar(
        rows.column("term").to_numpy(zero_copy_only=False),
        rows.column("n_docs").to_numpy(zero_copy_only=False).astype(np.int64),
        rows.column("doc_blob").to_pylist(),
        rows.column("tf_blob").to_pylist(),
        rows.column("dl_blob").to_pylist(),
        cfg,
        split_terms=heavy,
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
        for g in gen_ids_with_rows(gens)
        for f in sorted(
            _glob.glob(os.path.join(paths.segments, f"gen={g}", "bucket=*", "*.parquet"))
        )
    ]


def _merge_source(
    paths: IndexPaths, group_ids: list[int], source_gens: list[dict] | None
) -> list[str]:
    """Input files of a merge, chosen by its caller: a first merge of
    uncommitted groups (``source_gens`` None) reads their run dirs; a
    compaction or purge reads the source generations' segment files,
    which must cover exactly the requested groups, and never a run dir
    (not even one a crash left before its sweep)."""
    if source_gens is None:
        gdirs = {g: os.path.join(paths.runs, f"group={g}") for g in group_ids}
        missing = [g for g, d in gdirs.items() if not os.path.isdir(d)]
        if missing:
            raise FileNotFoundError(f"merge: run groups {missing} have no run dir")
        return [f for d in gdirs.values() for f in _pa_files(d)]
    src_groups = sorted(int(x) for g in source_gens for x in g["groups"])
    if src_groups != sorted(int(g) for g in group_ids):
        raise RuntimeError(
            f"segment-sourced merge needs generations covering exactly the requested "
            f"groups (gens cover {src_groups}, requested {sorted(group_ids)})"
        )
    return _generation_files(paths, source_gens)


def _merge_on_driver(cfg, files, heavy, tomb, gdir) -> dict[int, tuple[int, int]]:
    """Driver placement: one pyarrow read, split by bucket, the kernel on a
    small thread pool (its NumPy passes release the GIL)."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    from dawnsearch_spark.operators.merge import term_bucket_py

    tbl = _pa_read(files, columns=_MERGE_IN_COLS)
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
        return b, _merge_bucket(rows, heavy, tomb, cfg, os.path.join(gdir, f"bucket={b}"))

    with ThreadPoolExecutor(max_workers=min(8, len(present))) as pool:
        return dict(pool.map(one, present))


def _exchanged_buckets(batches):
    """(bucket, rows) per bucket of a partition sorted by its exchanged
    ``bucket`` column: a bucket's slices gather across Arrow batches, and
    only one bucket is held at a time."""
    import numpy as np
    import pyarrow as pa

    cur, parts = None, []
    for rb in batches:
        bk = rb.column("bucket").to_numpy(zero_copy_only=False)
        if not len(bk):
            continue
        cuts = np.flatnonzero(bk[1:] != bk[:-1]) + 1
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(bk)]):
            if int(bk[lo]) != cur:
                if parts:
                    yield cur, pa.Table.from_batches(parts)
                cur, parts = int(bk[lo]), []
            parts.append(rb.slice(int(lo), int(hi - lo)))
    if parts:
        yield cur, pa.Table.from_batches(parts)


def _merge_in_tasks(spark, cfg, files, from_runs, heavy, tomb, gdir) -> dict[int, tuple[int, int]]:
    """Task placement: the kernel runs once per bucket inside Spark tasks.

    * Segment-sourced (compaction, purge): one task per bucket reads that
      bucket's files. No exchange — every row of a term, in every
      generation, already lives under the same ``bucket=B`` directories.
    * Runs-sourced (first build, large append): run files are not
      bucketed, so Spark reads them, adds ``bucket`` (= ``term_bucket_py``)
      and exchanges once by it; each task streams its partition sorted by
      that column, one bucket at a time.

    Memory bound: a task holds one bucket, about input postings /
    ``num_term_buckets`` (plus that bucket's output rows)."""
    import pyarrow as pa

    n_b = cfg.num_term_buckets
    cols = _MERGE_IN_COLS
    if from_runs:
        if not files:
            return {}
        by_bucket = None
        src = (
            spark.read.parquet(*files).select(*cols)
            .withColumn("bucket", F.pmod(F.crc32(F.col("term")), F.lit(n_b)))
            .repartition(n_b, "bucket")
            .sortWithinPartitions("bucket")
        )
    else:
        by_bucket = {}
        for f in files:
            b = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
            by_bucket.setdefault(b, []).append(f)
        src = spark.range(0, n_b, 1, numPartitions=n_b)
    sc = spark.sparkContext
    files_bc, heavy_bc, tomb_bc = (
        sc.broadcast(by_bucket), sc.broadcast(heavy), sc.broadcast(tomb)
    )

    def task(batches):
        fl = files_bc.value
        pairs = _exchanged_buckets(batches) if fl is None else (
            (b, _pa_read(fl[b], columns=cols))
            for rb in batches for b in rb.column("id").to_pylist() if b in fl
        )
        for b, rows in pairs:
            n, p = _merge_bucket(
                rows, heavy_bc.value, tomb_bc.value, cfg,
                os.path.join(gdir, f"bucket={b}"),
            )
            yield pa.RecordBatch.from_pydict(
                {"bucket": [b], "rows": [n], "postings": [p]}
            )

    try:
        out = src.mapInArrow(task, "bucket long, rows long, postings long").collect()
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


def merge_groups_to_generation(
    spark: SparkSession,
    paths: IndexPaths,
    cfg: EngineConfig,
    group_ids: list[int],
    gen_id: int,
    source_gens: list[dict] | None = None,
    tombstones=None,
) -> dict:
    """Merge the given groups into segments/gen=<gen_id>.

    A first merge (``source_gens`` None) reads the groups' run dirs; a
    compaction or purge passes ``source_gens`` (committed generation dicts
    covering exactly ``group_ids``) and reads the POSTINGS ALREADY IN their
    segment rows, which reinterpret as runs with zero re-encoding.

    ``tombstones`` (doc_ids) drops those docs' postings during the merge —
    the purge path of the delete lifecycle.

    Placement, by input postings: at or under ``DRIVER_MERGE_MAX_POSTINGS``
    the driver runs :func:`_merge_bucket` per bucket (zero Spark jobs);
    above it the same kernel runs per bucket in Spark tasks
    (:func:`_merge_in_tasks`). Every placement writes the same files."""
    import shutil

    import numpy as np

    files = _merge_source(paths, group_ids, source_gens)
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
    heavy = _heavy_terms(paths)
    if in_postings <= DRIVER_MERGE_MAX_POSTINGS:
        per_bucket = _merge_on_driver(cfg, files, heavy, tomb, gdir)
    else:
        per_bucket = _merge_in_tasks(spark, cfg, files, source_gens is None, heavy, tomb, gdir)
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
    * ``full`` — re-aggregate (first build / purge / crash recovery):
      every committed generation of this fingerprint contributes its
      segment rows (df = Σ n_docs and cf = Σ tf_sum hold there too), and
      every group no generation covers its run dir.

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
        gens = (seg_m.get("generations") or []) if seg_m.get("fingerprint") == fp else []
        runs_groups = sorted(all_ids - {int(x) for g in gens for x in g["groups"]})
        missing = [g for g in runs_groups if not os.path.isdir(run_dir(g))]
        if missing:
            raise FileNotFoundError(
                f"dictionary rebuild: run groups {missing} have neither "
                "run dirs nor a committed segment generation"
            )
        plan["runs"] = [f for g in runs_groups for f in _pa_files(run_dir(g))]
        plan["segs"] = _generation_files(paths, gens)
        if gens:
            plan["log"] = (
                "stage1b dictionary rebuilt from segment rows of generations "
                f"{[int(g['gen']) for g in gens]}"
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

    # ---- stage 1a: group plan ----
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
    log(f"stage1a group plan: {actual_groups} groups, {len(pending)} pending")

    def _build_group(g: int, lo: int, hi: int) -> None:
        name = f"runs_group_{g}"
        group_docs = documents.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        runs = build_posting_miniruns(group_docs, cfg.content_col)
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
    # re-merges the smallest generations' segment rows into a single fresh
    # generation (bounded read amplification at query time, amortized
    # write amplification).
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
        # written), so there is nothing to merge. Commit an empty
        # generation list: Engine boot and searches read no files and
        # return no hits.
        import shutil

        shutil.rmtree(paths.segments, ignore_errors=True)
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
                # compaction re-reads the taken generations' own segment
                # rows — the index is self-sufficient
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
