"""Engine facade — the public query API.

Reference analog: the ``SearchMsg`` surface (TextSearch / EmbeddingSearch /
MoreLikeSearch / ExtractedPage / Stats / Save,
/root/reference/src/search/search_msg.rs:24-52) re-expressed as methods:

  Engine.build(...)      <- ExtractedPage ingestion + Save checkpoints
  engine.search(q)       <- TextSearch (E1 lifecycle)
  engine.more_like(id)   <- MoreLikeSearch (E2: stored doc -> query bag)
  engine.stats()         <- Stats / Announce counters
  engine.verify()        <- boot-time integrity verify
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.functions.tokenizer import tokenize_py
from dawnsearch_spark.index_build import (
    IndexPaths,
    build_index,
    gen_ids_with_rows,
    load_stats,
    read_segments,
)
from dawnsearch_spark.manifest import list_manifests
from dawnsearch_spark.operators.forward_reader import read_forward_rows
from dawnsearch_spark.operators.hydrate import hydrate_hits, verify_corpus
from dawnsearch_spark.operators.wand import search_index


class TermMeta:
    """Columnar driver-resident term dictionary.

    One NumPy array per META column plus a term -> row-slice index
    (term-sorted layout, binary-searched per lookup) — the in-RAM term
    dictionary of a classical search engine (reference analog: the whole
    index resident in RAM at serve time, search_provider.rs:111-120).
    Per-row cost is 3x int64 + the unique-term strings; a plain
    dict-of-list-of-dicts layout costs ~300+ bytes/row in CPython object
    overhead, which at max_driver_meta_rows=2M is ~0.5-1 GB of driver
    heap — this stays under ~120 MB (see ``nbytes``)."""

    __slots__ = ("_terms", "_starts", "_range_id", "_n_docs", "_max_tf", "_min_dl", "nbytes")

    def __init__(self, terms, range_id, n_docs, max_tf, min_dl):
        import numpy as np

        terms = np.asarray(terms, dtype=object)
        order = np.argsort(terms, kind="stable")
        sorted_terms = terms[order]
        self._range_id = np.asarray(range_id, np.int64)[order]
        self._n_docs = np.asarray(n_docs, np.int64)[order]
        self._max_tf = np.asarray(max_tf, np.int64)[order]
        self._min_dl = np.asarray(min_dl, np.int64)[order]
        uniq, starts = np.unique(sorted_terms, return_index=True)
        self._terms = uniq
        self._starts = np.append(starts, len(sorted_terms)).astype(np.int64)
        self.nbytes = (
            self._range_id.nbytes
            + self._n_docs.nbytes
            + self._max_tf.nbytes
            + self._min_dl.nbytes
            + self._starts.nbytes
            + self._terms.nbytes  # pointer array
            + int(sum(len(t) + 49 for t in uniq))  # CPython str payloads
        )

    def __len__(self) -> int:
        return len(self._range_id)

    def get(self, term: str, default=()):
        """All segment-row metadata dicts for one term (across ranges and
        generations) — materialized on demand, only for query terms."""
        import numpy as np

        i = int(np.searchsorted(self._terms, term))
        if i >= len(self._terms) or self._terms[i] != term:
            return default
        s, e = int(self._starts[i]), int(self._starts[i + 1])
        return [
            {
                "term": term,
                "range_id": int(self._range_id[j]),
                "n_docs": int(self._n_docs[j]),
                "max_tf": int(self._max_tf[j]),
                "min_dl": int(self._min_dl[j]),
            }
            for j in range(s, e)
        ]

    def prefix_terms(self, prefix: str, cap: int) -> list[str]:
        """Expand a prefix against the sorted term dictionary: one binary
        search pair bounds the matching slice (this is exactly what a
        sorted term dictionary exists for — Lucene's TermsEnum.seekCeil),
        then the cap keeps the highest-df terms (term as tie-break)."""
        import numpy as np

        lo = int(np.searchsorted(self._terms, prefix))
        hi = int(np.searchsorted(self._terms, prefix + "￿"))
        scored = [
            (
                -int(self._n_docs[self._starts[i] : self._starts[i + 1]].sum()),
                str(self._terms[i]),
            )
            for i in range(lo, hi)
        ]
        return [t for _, t in sorted(scored)[:cap]]

    def columns(self) -> dict:
        """Per-row column arrays (term repeated per row) — the raw
        material for an INCREMENTAL rebuild: new generations' rows are
        concatenated onto these and re-sorted in memory, so a refresh
        after an append never re-reads the committed generations' files."""
        import numpy as np

        reps = np.diff(self._starts)
        return {
            "term": np.repeat(self._terms, reps),
            "range_id": self._range_id,
            "n_docs": self._n_docs,
            "max_tf": self._max_tf,
            "min_dl": self._min_dl,
        }


class Engine:
    def __init__(self, spark: SparkSession, index_root: str, cfg: EngineConfig | None = None):
        self.spark = spark
        self.cfg = cfg or EngineConfig()
        self.paths = IndexPaths(index_root)
        self.stats_ = load_stats(index_root)  # raises if index absent
        self.last_search_counters: dict = {}
        # Spark relations, built on first use: opening runs no Spark job
        self._segments = self._documents = None
        # driver-resident term dictionary (metadata only, no blobs): paid
        # once here, it removes the per-query metadata-planning read — a
        # driver-path search then reads only its posting rows, with zero
        # Spark jobs. Loaded only while the segment-row count fits
        # max_driver_meta_rows; a bigger index plans each query with a
        # pruned pyarrow metadata read instead.
        self._meta_gens: list[int] = []
        self.last_meta_load: dict = {}
        self._meta_by_term = self._load_meta()
        self._cache = self._new_cache()
        # Lucene-style deletes: tombstoned docIDs filter every search
        # until purge_deletes rewrites the segments (sorted int64 array,
        # read driver-side with zero Spark jobs)
        self._tombstones = self._load_tombstones()

    def _load_tombstones(self):
        from dawnsearch_spark.streaming.incremental import tombstone_ids

        t = tombstone_ids(self.paths.root)
        return t if len(t) else None

    def _new_cache(self):
        from dawnsearch_spark.operators.wand import PostingListCache

        if self.cfg.cache_postings <= 0:
            return None
        return PostingListCache(self.cfg.cache_postings)

    def _load_meta(
        self, prev: TermMeta | None = None, prev_gens: list[int] | None = None
    ) -> TermMeta | None:
        """Build the driver term dictionary. With ``prev``/``prev_gens``
        (a live dictionary and the generation ids it covers) the load is
        INCREMENTAL whenever the committed generation list is a superset
        of the covered one — i.e. after a plain append: only the NEW
        generations' metadata files are read and folded into the
        in-memory arrays (generations are immutable once committed, so
        the covered rows cannot have changed). A compaction changes the
        generation list non-monotonically and falls back to a full load.
        ``self.last_meta_load`` records {mode, gens_read, new_terms} —
        the refresh-cost observability counter; ``new_terms`` is every
        term that gained a row (of any layout) in a newly read
        generation."""
        import numpy as np

        from dawnsearch_spark.manifest import read_manifest

        self.last_meta_load = {"mode": "none", "gens_read": [], "new_terms": set()}
        self._meta_gens = []
        seg_m = read_manifest(self.paths.root, "segments") or {}
        rows = seg_m.get("rows")
        if rows is None or int(rows) > self.cfg.max_driver_meta_rows:
            return None
        from dawnsearch_spark.operators.segment_reader import (
            META_COLUMNS,
            read_segment_table,
        )

        gens = gen_ids_with_rows(seg_m.get("generations") or [])
        if prev is not None and prev_gens is not None and set(prev_gens) <= set(gens):
            read_gens = [g for g in gens if g not in set(prev_gens)]
            mode = "incremental"
        else:
            prev, read_gens, mode = None, gens, "full"

        if read_gens:  # zero Spark jobs, columnar
            tbl = read_segment_table(
                self.paths.segments, columns=META_COLUMNS, gens=read_gens
            )
            cols = {
                c: tbl.column(c).to_numpy(zero_copy_only=False)
                for c in META_COLUMNS
            }
        else:  # an empty index, or an incremental refresh with nothing new
            cols = {
                c: np.asarray([], dtype=object if c == "term" else np.int64)
                for c in META_COLUMNS
            }

        new_terms = set(cols["term"].tolist())
        if prev is not None:
            old = prev.columns()
            cols = {
                c: np.concatenate([np.asarray(old[c]), np.asarray(cols[c])])
                if len(cols[c]) or len(old[c])
                else np.asarray(old[c])
                for c in META_COLUMNS
            }
        self._meta_gens = gens
        self.last_meta_load = {
            "mode": mode,
            "gens_read": read_gens,
            "new_terms": new_terms,
        }
        return TermMeta(
            cols["term"], cols["range_id"], cols["n_docs"], cols["max_tf"], cols["min_dl"]
        )

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        index_root: str,
        cfg: EngineConfig | None = None,
        n_groups: int = 8,
        log=lambda m: None,
    ) -> "Engine":
        cfg = cfg or EngineConfig()
        build_index(spark, docs, index_root, cfg, n_groups=n_groups, log=log)
        return cls(spark, index_root, cfg)

    def refresh(self) -> "Engine":
        """Re-sync a live Engine after the index changed on disk (e.g. an
        ``append_documents`` rewrote the segments directory): drops cached
        file listings and Spark relations (rebuilt on next use) and
        re-reads stats. Without this, a live Engine's queries read dropped
        files (FileNotFoundException) or serve stale stats.

        The driver term dictionary refreshes INCREMENTALLY after a plain
        append: committed generations are immutable, so only the new
        generations' metadata files are read and folded in — O(new-gen
        metadata) per append, never O(index metadata) (the serving-side
        twin of the stage-1b incremental dictionary). The posting-list LRU
        likewise drops only terms that gained a row in a new generation;
        every other cached list still matches disk."""
        self.spark.catalog.refreshByPath(self.paths.segments)
        self.spark.catalog.refreshByPath(self.paths.documents)
        self.stats_ = load_stats(self.paths.root)
        self._segments = self._documents = None
        self._meta_by_term = self._load_meta(self._meta_by_term, self._meta_gens)
        if self.last_meta_load.get("mode") != "incremental":
            # full reload (compaction / dict overflow): the generation
            # list changed non-monotonically — cached lists may be stale
            self._cache = self._new_cache()
        elif self._cache is not None:
            self._cache.drop_terms(self.last_meta_load["new_terms"])
        self._tombstones = self._load_tombstones()
        return self

    def segments(self) -> DataFrame:
        """Spark relation over the segment generations, built on first use."""
        if self._segments is None:
            self._segments = read_segments(self.spark, self.paths.root)
        return self._segments

    def documents(self) -> DataFrame:
        """Spark relation over the forward index, built on first use."""
        if self._documents is None:
            self._documents = self.spark.read.parquet(self.paths.documents)
        return self._documents

    def search(
        self,
        query: str | dict[str, float],
        k: int | None = None,
        counters: dict | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k (doc_id, score), rank-identical to the exact oracle.
        Per-search observability counters (ranges pruned, blocks decoded,
        postings scored, driver postings decoded, path) land in
        ``self.last_search_counters`` — the reference returns the analogous
        servers_contacted/pages_searched with every result
        (search_provider.rs:44-59). Concurrent callers (the reference
        serves many in-flight searches — ActiveSearch,
        udp_service.rs:296-341) pass their own ``counters`` dict so the
        shared attribute is observability-only, never a data race on the
        result path; the posting-list LRU is internally locked."""
        self.last_search_counters = counters if counters is not None else {}
        return search_index(
            self.paths.root,
            query,
            self.cfg,
            k=k,
            stats=self.stats_,
            counters=self.last_search_counters,
            meta_by_term=self._meta_by_term,
            cache=self._cache,
            tombstones=self._tombstones,
        )

    def search_phrase(
        self, phrase: str, k: int | None = None, counters: dict | None = None
    ) -> list[tuple[int, int, float]]:
        """Exact-phrase top-k from the index: [(doc_id, phrase_tf, score)].
        Candidates come from the posting lists (intersection bounded by the
        rarest term's df), adjacency is verified on the candidate rows of
        the forward index, and the whole query is zero-Spark-job when the
        phrase postings + candidates fit the driver budgets (see
        operators/phrase_serve.py)."""
        from dawnsearch_spark.operators.phrase_serve import search_phrase_index

        self.last_search_counters = counters if counters is not None else {}
        return search_phrase_index(
            self.spark,
            self.paths.root,
            phrase,
            self.cfg,
            k=k,
            segments=self.segments,
            stats=self.stats_,
            counters=self.last_search_counters,
            meta_by_term=self._meta_by_term,
            tombstones=self._tombstones,
            documents=self.documents,
        )

    def search_near(
        self,
        term_a: str,
        term_b: str,
        window: int,
        k: int | None = None,
        counters: dict | None = None,
    ) -> list[tuple[int, int, float]]:
        """NEAR/n proximity top-k from the index — the phrase-serving
        plan with an unordered within-window matcher."""
        from dawnsearch_spark.operators.phrase_serve import search_near_index

        self.last_search_counters = counters if counters is not None else {}
        return search_near_index(
            self.spark,
            self.paths.root,
            term_a,
            term_b,
            window,
            self.cfg,
            k=k,
            segments=self.segments,
            stats=self.stats_,
            counters=self.last_search_counters,
            meta_by_term=self._meta_by_term,
            tombstones=self._tombstones,
            documents=self.documents,
        )

    def count(self, query: str, mode: str = "or") -> int:
        """Total live hits for the query (OR or AND semantics) from
        postings only — no scoring, no content, zero Spark jobs on the
        driver fast path (Lucene TotalHitCountCollector analog)."""
        from dawnsearch_spark.operators.phrase_serve import count_matches_index

        return count_matches_index(
            self.spark,
            self.paths.root,
            query,
            self.cfg,
            mode=mode,
            segments=self.segments,
            tombstones=self._tombstones,
        )

    def search_prefix(
        self, prefix: str, k: int | None = None, max_expansion: int = 128
    ) -> list[tuple[int, float]]:
        """Prefix (``pre*``) top-k: expand against the term dictionary
        (driver binary search when the dictionary is resident, a pruned
        scan of the terms relation otherwise — bounded metadata either
        way, never postings), then score the expansion as a plain OR
        query through the normal WAND path."""
        pre = tokenize_py(prefix)
        if len(pre) != 1:
            return []
        pre_t = pre[0]
        if self._meta_by_term is not None:
            exp = self._meta_by_term.prefix_terms(pre_t, max_expansion)
        else:
            exp = [
                r["term"]
                for r in self.spark.read.parquet(self.paths.terms)
                .filter(F.col("term").startswith(pre_t))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(max_expansion)
                .collect()
            ]
        if not exp:
            return []
        return self.search({t: 1 for t in exp}, k=k)

    def search_fuzzy(
        self,
        term: str,
        k: int | None = None,
        max_edits: int = 1,
        max_expansion: int = 50,
    ) -> list[tuple[int, float]]:
        """Fuzzy-term top-k: expand against the terms relation with
        ``F.levenshtein`` (one bounded metadata job — the dictionary, not
        postings), then score the expansion through the normal WAND
        path."""
        q = tokenize_py(term)
        if len(q) != 1:
            return []
        exp = [
            r["term"]
            for r in self.spark.read.parquet(self.paths.terms)
            .withColumn("_d", F.levenshtein(F.col("term"), F.lit(q[0])))
            .filter(F.col("_d") <= max_edits)
            .orderBy(F.asc("_d"), F.desc("df"), F.asc("term"))
            .limit(max_expansion)
            .collect()
        ]
        if not exp:
            return []
        return self.search({t: 1 for t in exp}, k=k)

    def search_regex(
        self, pattern: str, k: int | None = None, max_expansion: int = 128
    ) -> list[tuple[int, float]]:
        """Regex term query (Lucene RegexpQuery shape): full-match
        expansion against the terms relation via JVM ``rlike`` (one
        bounded metadata job, the same engine the batch rewrite uses so
        expansion semantics are identical), then the normal WAND path.
        Lucene intersects the pattern automaton with its term FST; the
        terms-relation scan is the DataFrame-native equivalent at
        dictionary (not postings) cost."""
        from dawnsearch_spark.operators.boolquery import regex_expand

        exp = regex_expand(
            self.spark.read.parquet(self.paths.terms), pattern, max_expansion
        )
        if not exp:
            return []
        return self.search({t: 1 for t in exp}, k=k)

    def search_wildcard(
        self, pattern: str, k: int | None = None, max_expansion: int = 128
    ) -> list[tuple[int, float]]:
        """Wildcard (``te?m*``) top-k: sugar over :meth:`search_regex`."""
        from dawnsearch_spark.operators.boolquery import wildcard_to_regex

        return self.search_regex(
            wildcard_to_regex(pattern.lower()), k=k, max_expansion=max_expansion
        )

    def suggest(self, prefix: str, n: int = 10) -> list[tuple[str, int]]:
        """Autocomplete from the index's term dictionary: top-n terms
        under the prefix by collection frequency (cf desc, term asc).
        One bounded metadata job over the terms relation — the dictionary
        the index already maintains for df/cf; no postings touched."""
        from dawnsearch_spark.operators.boolquery import suggest_terms

        rows = suggest_terms(
            self.spark.read.parquet(self.paths.terms), prefix, n
        ).collect()
        return [(str(r["term"]), int(r["cf"])) for r in rows]

    def search_grouped(
        self,
        query: str | dict[str, float],
        group_col: str,
        per_group: int = 3,
        candidates: int = 100,
        round_scores: int | None = None,
    ) -> DataFrame:
        """Field-collapsed results from the INDEX path: top-``candidates``
        WAND hits (rank-identical to the exact oracle), group attribute
        joined onto those k rows only, best ``per_group`` kept per value
        (Lucene grouping module). Returns (doc_id, <group_col>, score,
        rank_in_group). ``round_scores`` ranks on scores rounded to that
        many decimals (the gate uses 6 so ranking matches an oracle that
        compares rounded values; serving callers leave it None)."""
        from dawnsearch_spark.operators.boolquery import grouped_topk

        hits = self.search(query, k=candidates)
        if round_scores is not None:
            hits = [(d, round(s, round_scores)) for d, s in hits]
        scored = self.spark.createDataFrame(
            [(int(d), float(s)) for d, s in hits] or [],
            "doc_id long, score double",
        )
        return grouped_topk(
            self.documents(), scored, group_col, per_group=per_group
        )

    def spellcheck(
        self, word: str, max_edits: int = 2, n: int = 5
    ) -> list[tuple[str, int, int]]:
        """Did-you-mean from the index's term dictionary: (term,
        distance, df) alternatives within ``max_edits``, ranked distance
        asc / df desc / term asc. One bounded metadata job."""
        from dawnsearch_spark.operators.boolquery import spellcheck

        rows = spellcheck(
            self.spark.read.parquet(self.paths.terms), word, max_edits, n
        ).collect()
        return [(str(r["term"]), int(r["distance"]), int(r["df"])) for r in rows]

    def explain(self, query: str | dict[str, float], doc_id: int) -> dict:
        """Lucene-style per-term score breakdown for one (query, doc):
        block-directory point lookups, no scan — the reported total is
        bit-identical to the score :meth:`search` gives this doc."""
        from dawnsearch_spark.operators.explain import explain_doc

        return explain_doc(
            self.paths.root,
            query,
            doc_id,
            self.cfg,
            stats=self.stats_,
            tombstones=self._tombstones,
        )

    def delete(self, doc_ids=None, keys=None) -> dict:
        """Tombstone-delete documents and re-sync this Engine — deleted
        docs vanish from every subsequent search immediately; stats stay
        pre-delete until :meth:`purge` (Lucene deleted-docs semantics)."""
        from dawnsearch_spark.streaming.incremental import delete_documents

        out = delete_documents(
            self.spark, self.paths.root, self.cfg, doc_ids=doc_ids, keys=keys
        )
        self._tombstones = self._load_tombstones()
        return out

    def upsert(self, batch: DataFrame, match_cols=None, n_groups: int = 1) -> dict:
        """Insert-or-replace by key in one atomic step (staging-masked
        append + one tombstone-set cutover swap), then re-sync. Replaced
        versions stay tombstoned until :meth:`purge`."""
        from dawnsearch_spark.streaming.incremental import upsert_documents

        out = upsert_documents(
            self.spark, self.paths.root, batch, self.cfg,
            match_cols=match_cols, n_groups=n_groups,
        )
        self.refresh()
        return out

    def purge(self) -> dict:
        """Physically remove tombstoned docs (one purged merge + forward
        index rewrite + dictionary/stats rebuild), then re-sync. After
        this, scores equal a from-scratch build over the surviving docs."""
        from dawnsearch_spark.streaming.incremental import purge_deletes

        out = purge_deletes(self.spark, self.paths.root, self.cfg)
        self.refresh()
        return out

    def search_df(self, query: str | dict[str, float], k: int | None = None) -> DataFrame:
        """Hydrated ranked results (reference E1 steps 5-6): ``hydrate_hits``'
        k rows as a local relation, which collects without a Spark job (above
        ``spark.sql.execution.arrow.localRelationThreshold`` Spark makes it an
        RDD instead: one job, the same rows)."""
        hits = self.search(query, k=k)
        return self.spark.createDataFrame(hydrate_hits(self.paths.documents, hits, self.cfg))

    def more_like(self, doc_id: int, top_m: int = 10, k: int | None = None):
        """E2: use a stored document's term bag as the query
        (reference: embedding_for_page -> re-enter search,
        reference ``src/search/search_service.rs:105-124``). The source row
        is one pyarrow forward-index read: no Spark job."""
        import numpy as np

        from dawnsearch_spark.operators.phrase_serve import _drop_tombstoned

        live = _drop_tombstoned(np.asarray([doc_id], np.int64), self._tombstones)
        row = read_forward_rows(self.paths.documents, live, [self.cfg.content_col])
        if not row.num_rows:
            return []  # deleted and unknown docs are unreachable, like search
        bag = Counter(tokenize_py(row.column(0)[0].as_py()))
        top_terms = sorted(bag.items(), key=lambda kv: (-kv[1], kv[0]))[:top_m]
        return self.search(dict(top_terms), k=k)

    def stats(self) -> dict:
        """Lineage counters (A3 analog: pages_indexed & friends) plus the
        last search's observability counters."""
        return {
            "n_docs": self.stats_.n_docs,
            "avgdl": self.stats_.avgdl,
            "total_tokens": self.stats_.total_tokens,
            "tombstones": int(len(self._tombstones))
            if self._tombstones is not None
            else 0,
            "last_search": getattr(self, "last_search_counters", {}),
            "manifests": list_manifests(self.paths.root),
        }

    def verify(self, strict: bool = False) -> dict:
        """Full-scan integrity verify (A4 analog). With ``strict`` the call
        raises on any bad row, like the reference's boot-time verify that
        fails the process (search_provider.rs:289-327, invoked at :122)."""
        v = verify_corpus(self.documents(), self.cfg)
        if strict and (v["sha_mismatch"] or v["null_content"]):
            raise RuntimeError(f"corpus integrity verify failed: {v}")
        return v
