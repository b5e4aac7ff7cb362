"""Deterministic dense docID assignment without a single global sort task.

Reference analog: the reference addresses documents by SQLite rowid
(/root/reference/src/search/search_provider.rs:84-93) and maps linear ids to
(segment, offset) arithmetic in ``linear_to_segmented``
(/root/reference/examples_old/document_embeddings.rs:81-92). Here docIDs are
a dense rank over the identity key (repo, path, commit):

  1. range-partition + sort-within-partition on the key (parallel sort,
     no global single-reducer stage) — the ONLY shuffle;
  2. count (dedup-aware) rows per partition (tiny aggregate job);
  3. cumulative offsets on the driver (one int per partition, shipped in
     the task closure — no broadcast to own and release); one Arrow
     ``mapInPandas`` pass adds ``offset[pid] + arange`` — and performs the
     identity-key dedup as a vectorized shift-compare in the same pass.

This is the SURVEY.md §7 "per-partition counts → offsets → add-offset"
design executed literally. The previous implementation used
``row_number() OVER (PARTITION BY spark_partition_id())``, which Catalyst
cannot prove co-partitioned, so it inserted a SECOND full-data hash
exchange before the window — one entire extra shuffle of the corpus per
build. The Arrow pass needs no exchange at all, and its output partitions
remain contiguous doc_id ranges, so the forward index can be written
directly (no third ``repartitionByRange`` before the write).

The intermediate is persisted so the sampled range boundaries are stable
across the counts job and the output job (SURVEY.md §7 hard part 4).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.storagelevel import StorageLevel


def _is_null(v) -> bool:
    return v is None or (isinstance(v, float) and v != v)


def _tuple_null_eq(a: tuple, b: tuple) -> bool:
    """Element-wise equality treating null == null (NaN or None), matching
    Spark's null-safe struct comparison in countDistinct."""
    return all(
        (_is_null(x) and _is_null(y)) or (not _is_null(x) and not _is_null(y) and x == y)
        for x, y in zip(a, b)
    )


def assign_doc_ids(
    df: DataFrame,
    id_cols: tuple[str, ...],
    parts: int | None = None,
    dedup_order_col: str | None = None,
) -> DataFrame:
    """Returns ``df`` + ``doc_id`` (long, dense 0..N-1, ordered by id_cols).

    With ``dedup_order_col`` set, identity-key duplicates are dropped first
    (keeper = smallest ``dedup_order_col`` per key) inside the same Arrow
    pass that assigns ids: equal keys land in one range partition and sort
    adjacently, so dedup is a vectorized shift-compare with a carried last
    key across Arrow batches — no extra shuffle (reference dedups on every
    insert, search_provider.rs:253-263).

    Output partitions are contiguous ascending doc_id ranges (partition i
    holds ids [offset_i, offset_{i+1})), already sorted by doc_id — a
    direct ``write.parquet`` yields range-prunable files with no further
    repartition.
    """
    spark = df.sparkSession
    parts = parts or spark.sparkContext.defaultParallelism
    sort_cols = [*id_cols] + ([dedup_order_col] if dedup_order_col else [])
    ranged = (
        df.repartitionByRange(parts, *[F.col(c) for c in id_cols])
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # per-partition KEPT-row counts: with dedup, kept rows per partition =
    # distinct identity keys per partition (keys never span partitions —
    # the range partitioner assigns equal values to one partition)
    if dedup_order_col:
        cnt = F.countDistinct(F.struct(*[F.col(c) for c in id_cols]))
    else:
        cnt = F.count(F.lit(1))
    rows = ranged.groupBy("_pid").agg(cnt.alias("n")).collect()
    offsets: dict[int, int] = {}
    off = 0
    for r in sorted(rows, key=lambda r: int(r["_pid"])):
        offsets[int(r["_pid"])] = off
        off += int(r["n"])

    out_fields = [f for f in ranged.schema.fields if f.name != "_pid"]
    schema = StructType(out_fields + [StructField("doc_id", LongType(), False)])
    ids = list(id_cols)
    dedup = dedup_order_col is not None

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counter: int | None = None
        last_key: tuple | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            if counter is None:
                counter = offsets[int(pdf["_pid"].iloc[0])]
            if dedup:
                keys = pdf[ids]
                # null-safe equality: the kept-row counts come from Spark's
                # countDistinct over a struct, where NULL == NULL — the
                # pandas comparison must agree or kept rows exceed counted
                # rows and later partitions' doc_id offsets silently collide
                prev = keys.shift()
                same = (
                    ((keys == prev) | (keys.isna() & prev.isna()))
                    .all(axis=1)
                    .to_numpy(copy=True)
                )
                # position 0's shift() "previous" is an artificial all-NaN
                # row — it must only match the carried key from the prior
                # Arrow batch, never a genuinely all-null first key
                same[0] = last_key is not None and _tuple_null_eq(
                    tuple(keys.iloc[0]), last_key
                )
                last_key = tuple(keys.iloc[-1])
                if same.any():
                    pdf = pdf[~same]
            n = len(pdf)
            out = pdf.drop(columns=["_pid"]).assign(
                doc_id=np.arange(counter, counter + n, dtype=np.int64)
            )
            counter += n
            yield out

    out = ranged.mapInPandas(gen, schema)
    # handle for callers that materialize the result exactly once (e.g.
    # the forward-index write) to release the cached shuffle afterwards
    out._dawnsearch_persisted = ranged
    # total KEPT rows (post-dedup) — already exact from the counts job, so
    # callers need no separate count() action over the output
    out._dawnsearch_kept_rows = off
    return out
