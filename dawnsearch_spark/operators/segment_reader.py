"""Driver-side pruned segment reads via pyarrow — the one serving read.

Reference analog: the serving node answers a query by scanning its OWN
segment files in-process (mmap zero-copy reads,
/root/reference/examples_old/document_embeddings.rs:17-54) — it does not
dispatch a cluster job to look up a handful of posting lists. Here the
analog is a direct pyarrow read of the bucket-pruned segment parquet
files with a ``term IN (...)`` row-group filter.

Why this exists: the serving fast paths touch a few KB of postings, but
a Spark collect costs one full job dispatch (measured ~0.3-0.7 s per job
in multi-executor local-cluster mode — more than 100x the actual read).
The pyarrow read keeps the same files, the same pruning (bucket dirs =
partition pruning, term filter = row-group statistics/dictionary pushdown)
and the same rows, without the scheduler round-trip. Index roots are
local paths (``IndexPaths``), so every WAND, phrase, count and explain
call and the Engine's term dictionary read through here; only phrase
and count row sets above their driver budgets take distributed branches
instead (WAND above its budget still reads here, for the block-max walk).

Tiered generations: segments live under ``gen=K/bucket=B/*.parquet``
(index_build.py stage 3). Callers pass the MANIFEST-LISTED generation ids
(``index_build.live_gen_ids``) so a crash between a compaction's manifest
commit and its directory cleanup can never double-serve postings. A
listed generation whose directory is gone raises ``FileNotFoundError``:
serving without it would silently drop its docs. A bucket directory may
be absent (a generation need not have rows in every bucket).
"""

from __future__ import annotations

import os

META_COLUMNS = ["term", "range_id", "n_docs", "max_tf", "min_dl"]


def _bucket_files(fs, root: str, buckets, gens: list[int]) -> list[str]:
    from pyarrow import fs as pafs

    files: list[str] = []
    for gen in gens:
        g = f"{root}/gen={int(gen)}"
        if not os.path.isdir(g):
            raise FileNotFoundError(
                f"segment generation {int(gen)} is listed in the segments "
                f"manifest but {g} does not exist"
            )
        if buckets is None:
            sel = pafs.FileSelector(g, allow_not_found=True)
            bdirs = sorted(
                i.path
                for i in fs.get_file_info(sel)
                if i.type == pafs.FileType.Directory
                and i.base_name.startswith("bucket=")
            )
        else:
            bdirs = [f"{g}/bucket={b}" for b in sorted(buckets)]
        for d in bdirs:
            sel = pafs.FileSelector(d, allow_not_found=True)
            files.extend(
                sorted(
                    i.path
                    for i in fs.get_file_info(sel)
                    if i.type == pafs.FileType.File
                    and i.base_name.endswith(".parquet")
                )
            )
    return files


def read_segment_rows(
    segments_dir: str,
    buckets=None,
    terms=None,
    columns: list[str] | None = None,
    range_id: int | None = None,
    *,
    gens: list[int],
) -> list[dict]:
    """Pruned segment rows of the listed generations, as dicts.

    ``buckets`` prunes partition directories, ``terms`` pushes a term
    filter into parquet row-group stats, ``range_id`` optionally restricts
    to one doc-range row (-1 = light rows), ``gens`` names the manifest-listed
    generation directories to read (``[]`` reads nothing).
    """
    return read_segment_table(
        segments_dir, buckets, terms, columns, range_id, gens=gens
    ).to_pylist()


def read_segment_table(
    segments_dir: str,
    buckets=None,
    terms=None,
    columns: list[str] | None = None,
    range_id: int | None = None,
    *,
    gens: list[int],
):
    """Same pruned read as :func:`read_segment_rows`, returned as a
    pyarrow Table (columnar — the Engine's driver term dictionary builds
    straight from the column buffers without materializing row dicts).
    Raises ``ValueError`` for a URI: segments are local directories."""
    if "://" in segments_dir:
        raise ValueError(
            f"segments dir {segments_dir!r} is a URI; segment reads are "
            "local-only, like index roots"
        )
    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyarrow import fs as pafs

    fs = pafs.LocalFileSystem()
    files = _bucket_files(fs, os.path.abspath(segments_dir), buckets, gens)
    if not files:
        return pa.table({c: [] for c in (columns or META_COLUMNS)})
    dataset = ds.dataset(files, format="parquet", filesystem=fs)
    filt = None
    if terms is not None:
        filt = ds.field("term").isin(sorted(terms))
    if range_id is not None:
        f2 = ds.field("range_id") == range_id
        filt = f2 if filt is None else (filt & f2)
    return dataset.to_table(columns=columns, filter=filt)
