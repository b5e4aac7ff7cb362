"""Engine configuration.

Reference analog: ``Config`` loaded from TOML + env with env taking
precedence (/root/reference/src/config.rs:22-73). The reference has no BM25
constants (it is an embedding engine; its hardcoded internal k is 20 at
src/search/search_provider.rs:214 and the example CLIs display top-10 at
examples_old/search.rs:55-63); k1/b/top_k here are OUR pinned constants,
enforced by the exact-scan oracle (BASELINE.md).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, fields, replace

try:  # python >= 3.11
    import tomllib
except ImportError:  # pragma: no cover
    tomllib = None


@dataclass(frozen=True)
class EngineConfig:
    # --- BM25 scoring (pinned; see BASELINE.md) ---
    k1: float = 1.2
    b: float = 0.75
    top_k: int = 10
    # Internal over-fetch at the partition level, mirroring the reference's
    # internal k=20 vs displayed 10 (search_provider.rs:214).
    top_k_internal: int = 20

    # --- index layout ---
    # Number of term-hash buckets the final segments are partitioned by
    # (partition pruning unit for query-term lookups).
    num_term_buckets: int = 32
    # Docs per doc-range; heavy-term posting rows are chunked per range so a
    # single query task never touches more than one range of a heavy list.
    range_size: int = 65536
    # Postings per block inside a posting row (block-max WAND skip unit).
    block_size: int = 128

    # --- skew handling ---
    # A term whose df exceeds the EFFECTIVE threshold is "heavy"
    # (stopword-like): the merge writes its postings as one segment row
    # per (term, doc_id // range_size) instead of one light row, so no
    # single row holds more than range_size postings.
    # An absolute value here overrides; the default None scales the
    # threshold with the corpus:
    # clamp(n_docs * heavy_df_ratio, heavy_df_min, heavy_df_max).
    # Why a ratio: with threshold = r*N the heavy-set size is bounded by
    # total_postings / (r*N) = avgdl / r — INDEPENDENT of corpus size —
    # while a fixed 100k threshold at 10^12 docs makes millions of terms
    # heavy.
    heavy_df_threshold: int | None = None
    heavy_df_ratio: float = 0.01
    heavy_df_min: int = 1024
    # Ceiling so no single light posting list can exceed one merge
    # task's memory regardless of corpus size (1M postings packs to a few
    # MB of varbyte).
    heavy_df_max: int = 1_000_000
    # Query-time budget on postings decoded whole ON THE DRIVER. A query
    # whose total postings (every row of every term) fit it is scored
    # whole on the driver; any other query takes the block-max walk, also
    # on the driver: light lists are decoded whole smallest-first until
    # the budget is hit, and every other row is read compressed and
    # decoded one doc-range's blocks at a time, so a 10-term query of
    # mid-frequency terms (df just under heavy_df_max) can never
    # accumulate hundreds of MB of driver NumPy. 2M postings
    # varbyte-decode to ~50 MB of int64 arrays.
    max_driver_postings: int = 2_000_000
    # Phrase serving (operators/phrase_serve.py): max candidate docs whose
    # CONTENT the driver hydrates for the zero-job adjacency check. The
    # candidate set is bounded by the rarest phrase term's df; above this
    # cap the adjacency pass runs distributed over an id-pruned scan
    # instead (content rows are ~KBs each, so 4096 ≈ a few MB of driver
    # pandas — independent of corpus size).
    max_driver_phrase_docs: int = 4096
    # The Engine keeps the segment METADATA (term, range_id, n_docs,
    # max_tf, min_dl — no blobs) on the driver when the index's
    # segment-row count fits this bound: the in-RAM term dictionary of a
    # classical search engine. It removes the per-query metadata-planning
    # read, so a driver-path search reads only its posting rows. Indexes
    # above the bound plan each query with a pruned pyarrow metadata
    # read instead (zero Spark jobs either way). The dictionary is
    # COLUMNAR (one NumPy array per column + a term->slice index,
    # plans/query.py TermMeta): 4 int64 columns = 32 B/row plus the
    # unique-term strings, so 2M rows ≈ 70-120 MB of driver heap
    # (measured via TermMeta.nbytes; the previous dict-of-dicts layout
    # cost ~300+ B/row).
    max_driver_meta_rows: int = 2_000_000
    # Bound (in POSTINGS) of the Engine's posting-list LRU: each repeated
    # serving term's whole decoded list — (docs, tfs, dls) merged across
    # its rows into one docID-sorted list, whatever its layout — stays
    # resident between queries (the reference keeps its whole index in
    # RAM between queries, search_provider.rs:111-120), so the driver
    # path scores it with no fetch or decode. One stopword-like term spans
    # ~N/100 postings: a 25-query reference working set holds ~3-4M of
    # them, and an LRU at exactly that size thrashes. 20M postings ≈ 480 MB
    # of int64 arrays (three per posting). 0 disables the cache. NOT part
    # of the config fingerprint.
    cache_postings: int = 20_000_000
    # Tiered segment generations: an append merges only its new runs into
    # a fresh generation (O(batch) IO); above this many generations one
    # compaction job re-merges everything into a single generation.
    # Query-time read amplification is bounded by this count (a term adds
    # at most one light row per generation).
    max_segment_generations: int = 6

    # --- build ---
    # Upper bound on forward-index files, i.e. on the task parallelism of
    # the stage-2 tokenize (index_build._doc_partitions).
    build_partitions: int = 32
    # Columns that define document identity / deterministic docID order.
    id_cols: tuple[str, ...] = ("repo", "path", "commit")
    content_col: str = "content"

    # Ignored: every build sweeps merged run dirs (goes with perfbench's gc_runs=True).
    gc_runs: bool = False

    # --- misc ---
    snippet_len: int = 500  # serve-time snippet truncation (web.rs:328 analog)

    def effective_heavy_df_threshold(self, n_docs: int) -> int:
        """The df above which a term is heavy (range-split), for a corpus
        of n_docs."""
        if self.heavy_df_threshold is not None:
            return self.heavy_df_threshold
        return max(
            self.heavy_df_min, min(int(n_docs * self.heavy_df_ratio), self.heavy_df_max)
        )

    def scaled_for_tests(self) -> "EngineConfig":
        """Small-corpus variant: tiny ranges/thresholds so the heavy-term,
        multi-range and multi-block code paths are exercised at unit scale."""
        return replace(
            self,
            range_size=64,
            block_size=8,
            heavy_df_threshold=32,
            num_term_buckets=8,
            build_partitions=8,
        )


_ENV_PREFIX = "DAWNSEARCH_SPARK_"


def load_config(toml_path: str | None = None) -> EngineConfig:
    """TOML file < environment variables, mirroring the reference's
    load precedence (config.rs:42-73: file then env overrides)."""
    values: dict[str, object] = {}
    if toml_path and tomllib is not None and os.path.exists(toml_path):
        with open(toml_path, "rb") as f:
            data = tomllib.load(f)
        values.update(data.get("engine", data))
    for f in fields(EngineConfig):
        env_key = _ENV_PREFIX + f.name.upper()
        if env_key in os.environ:
            raw = os.environ[env_key]
            ftype = str(f.type)
            if "bool" in ftype:
                values[f.name] = raw.strip().lower() in ("1", "true", "yes", "on")
            elif "float" in ftype:
                values[f.name] = float(raw)
            elif "int" in ftype:  # includes "int | None" (e.g. heavy_df_threshold)
                values[f.name] = None if raw.lower() in ("", "none") else int(raw)
            elif f.name == "id_cols":
                values[f.name] = tuple(raw.split(","))
            else:
                values[f.name] = raw
    known = {f.name for f in fields(EngineConfig)}
    for k in values:
        if k not in known:
            # a misspelled budget would otherwise run at its default
            raise ValueError(f"unknown engine config key {k!r} in {toml_path}")
    if "id_cols" in values and not isinstance(values["id_cols"], tuple):
        values["id_cols"] = tuple(values["id_cols"])
    return EngineConfig(**values)  # type: ignore[arg-type]
