"""Result hydration: top-k docIDs -> document rows + integrity check.

Reference analogs: point-lookup hydration of each result id from the row
store (reference ``src/search/search_provider.rs:218-240``) — here one
pruned pyarrow read of the forward index (J1, zero Spark jobs); per-row
integrity verification (search_provider.rs:289-327) — sha256(content) must
equal the stored content_sha, checked with ``hashlib`` on the k rows here and
by a Spark scan over the whole corpus in ``verify_corpus``; serve-time snippet
truncation (reference ``src/net/web.rs:328``).
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.operators.forward_reader import read_forward_rows


def hydrate_hits(
    documents_dir: str, hits: list[tuple[int, float]], cfg: EngineConfig
) -> pa.Table:
    """Result rows of the (doc_id, score) hits that have a forward row, by
    score desc, doc_id asc. ``sha_ok`` exists only when ``content_sha`` is
    stored; it and the snippet are null for null content."""
    score = {int(d): float(s) for d, s in hits}
    tbl = read_forward_rows(
        documents_dir,
        sorted(score),
        ["doc_id", "repo", "path", "commit", "lang", cfg.content_col, "content_sha"],
    )
    scores = [score[d] for d in tbl.column("doc_id").to_pylist()]
    tbl = tbl.append_column("score", pa.array(scores, pa.float64())).sort_by(
        [("score", "descending"), ("doc_id", "ascending")]
    )
    content = tbl.column(cfg.content_col).to_pylist()
    out = tbl.drop_columns([cfg.content_col])
    out = out.cast(pa.schema([f.with_nullable(True) for f in out.schema]))  # as Spark reads parquet
    if "content_sha" in tbl.column_names:
        ok = [
            None if c is None or s is None
            else hashlib.sha256(c.encode("utf-8")).hexdigest() == s
            for c, s in zip(content, tbl.column("content_sha").to_pylist())
        ]
        out = out.append_column("sha_ok", pa.array(ok, pa.bool_()))
    snippet = [None if c is None else c[: max(cfg.snippet_len, 0)] for c in content]
    return out.append_column("snippet", pa.array(snippet, pa.string()))


def verify_corpus(documents: DataFrame, cfg: EngineConfig) -> dict:
    """Full-corpus integrity scan (reference: SearchProvider::verify,
    search_provider.rs:289-327 — boot-time full verify that fails the
    process on any bad row). Returns counters; caller decides to fail."""
    agg = documents.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            F.when(
                F.sha2(F.col(cfg.content_col), 256) != F.col("content_sha"), 1
            ).otherwise(0)
        ).alias("sha_mismatch"),
        F.sum(F.when(F.col(cfg.content_col).isNull(), 1).otherwise(0)).alias("null_content"),
    ).collect()[0]
    return {
        "rows": int(agg["rows"]),
        "sha_mismatch": int(agg["sha_mismatch"] or 0),
        "null_content": int(agg["null_content"] or 0),
    }
