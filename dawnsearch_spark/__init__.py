"""dawnsearch_spark — a PySpark-native inverted-index + BM25 search engine.

A from-scratch re-expression of the capabilities of dawn-search/dawnsearch
(reference at /root/reference, Rust) on Apache Spark: batch inverted-index
construction (per-batch posting runs, docID-delta varbyte compression,
k-way merged block-max segments with heavy terms split by doc-range), BM25 top-k query execution (block-max
WAND with threshold pruning), the full index lifecycle (resumable
checkpointed builds with per-partition lineage manifests, O(batch)
generational appends, tombstone delete + purge, size-tiered compaction),
and the auxiliary large-corpus operators a training-data pipeline needs
(dedup, similarity search, text analysis, multimodal decode).

Everything is built on public knowledge only: the PySpark API and the
reference repo's observable behavior. No code is copied from the reference;
docstrings cite reference file:line so parity can be checked.
"""

from dawnsearch_spark.config import EngineConfig, load_config


def __getattr__(name):  # lazy: avoid importing pyspark at package import
    if name == "Engine":
        from dawnsearch_spark.plans.query import Engine

        return Engine
    raise AttributeError(name)


__all__ = ["EngineConfig", "load_config", "Engine"]
__version__ = "0.1.0"
