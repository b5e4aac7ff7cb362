"""One benchmark run of one workload over the engine's public API.

The workloads differ in their read stream (see README.md). Every run does:

  set-up   Spark session, corpus, then SETUP_REPS x (build_index + Engine
           open) into fresh directories; set-up time takes their median
  serve    closed loop, one client: Engine.search for ``seconds`` with
           Engine.search_phrase interleaved at a fixed share, then
           Engine.search_df(q).collect() with the sha256 check
  checks   sampled answers against the exact oracles, run at the end;
           Engine.verify(strict=True)

With ``trace`` the run records spans around the calls into each layer
(tracing.py), reports per-layer metrics instead of end-to-end ones, and
adds the write path before the checks:

  append   APPENDS x (append_documents + Engine.refresh), searches between
  purge    PURGES x (delete_documents of DELETE_FRAC of the docs +
           purge_deletes + Engine.refresh)

and checks the index after the last append and after the purges as well.
A full write path in every run would not fit the benchmark's time budget.
"""

from __future__ import annotations

import contextlib
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import replace

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as papq
from pyspark.sql import functions as F

import dawnsearch_spark.functions.codec as codec
import dawnsearch_spark.operators.segment_reader as segment_reader
import dawnsearch_spark.operators.wand as wand
import dawnsearch_spark.streaming.incremental as incremental
from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.corpus import generate_corpus
from dawnsearch_spark.index_build import build_index, segment_generations
from dawnsearch_spark.manifest import dir_bytes
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.session import get_spark

import oracle_check
import streams
from tracing import Tracer

CORES = 4
N_DOCS = 2000
GROUPS = 2
SETUP_REPS = 3
MIN_SEARCHES = 1000  # p90 rests on >= 100 samples, p99 on >= 10
COUNT_PREFIX = 250  # per-search counts cover exactly these first searches
ROUNDS = 16
WARM_COLD = 50
PHRASES = 16
HYDRATED = 4
APPENDS = 3
APPEND_DOCS = 200
SEARCHES_AFTER_APPEND = 30
SEARCHES_AFTER_PURGE = 20
PURGES = 2
DELETE_FRAC = 0.05  # of all docs, per purge
ORACLE_BM25 = 2  # sampled serve-phase answers checked against the oracle
STAGES = ("stage0", "stage1a", "stage2", "stage1b", "stage3")


def engine_config() -> EngineConfig:
    """bench.py's engine shape scaled to N_DOCS: heavy terms at df >= N/8,
    several doc ranges, 16 term buckets. Builds run GROUPS build groups side
    by side on half the cores each."""
    return EngineConfig(
        heavy_df_threshold=N_DOCS // 8,
        range_size=512,
        num_term_buckets=16,
        build_partitions=CORES // 2,
    )


def _ms(xs) -> float:
    return statistics.median(xs) * 1e3


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.cfg = engine_config()
        self.acfg = replace(self.cfg, max_segment_generations=3, gc_runs=True)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []  # failed correctness checks and self-checks
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.diag: dict = {}
        self.tracer: Tracer | None = None
        self.serve_spans = 0  # spans recorded before the serve phase ended
        self.bit_diffs = 0
        self.full_refreshes = 0
        self.states: list[tuple] = []  # (state, doc filter, bm25, phrase)

    # ---- helpers ----
    def _op(self, fn, *args, **kwargs):
        """Run one counted operation; a raised error counts as failed."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def _span(self, name: str, jobs: bool = False):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, jobs)

    def _check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)

    def _jobs(self) -> int:
        return int(self._dag.numTotalJobs())

    # ---- phases ----
    def start(self) -> None:
        local = os.path.join(self.work, "spark-local")
        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_s = time.perf_counter() - t
        # total jobs submitted in this context, from any thread
        self._dag = self.spark.sparkContext._jsc.sc().dagScheduler()
        self.diag["env.cpu_probe_ms"] = cpu_probe_ms()
        self.diag["env.spark_job_floor_ms"] = self._job_floor_ms()

    def _job_floor_ms(self) -> float:
        self.spark.range(1).count()
        ts = []
        for _ in range(3):
            t = time.perf_counter()
            self.spark.range(1).count()
            ts.append(time.perf_counter() - t)
        return _ms(ts)

    def setup(self) -> None:
        spark = self.spark
        corpus_dir = os.path.join(self.work, "corpus")
        t = time.perf_counter()
        generate_corpus(spark, N_DOCS, seed=self.seed).write.parquet(corpus_dir)
        corpus_s = time.perf_counter() - t
        self.content_bytes = _content_bytes(corpus_dir)
        docs = spark.read.parquet(corpus_dir)
        reps = []
        for r in range(SETUP_REPS):
            root = os.path.join(self.work, f"idx{r}")
            events: list[tuple[float, str]] = []
            j0 = self._jobs()
            t = time.perf_counter()
            build_index(
                spark, docs, root, self.cfg, n_groups=GROUPS, parallel_groups=GROUPS,
                log=lambda m, ev=events: ev.append((time.perf_counter(), m)),
            )
            tb = time.perf_counter()
            jobs = self._jobs() - j0
            engine = Engine(spark, root, self.cfg)
            reps.append({
                "build_s": tb - t, "open_s": time.perf_counter() - tb,
                "jobs": jobs, "stages": _stage_seconds(t, events),
            })
            if r == 0:
                self.engine, self.root = engine, root
                self.index_bytes = dir_bytes(root)
                self.storage = {
                    d: dir_bytes(os.path.join(root, d))
                    for d in ("documents", "segments", "terms", "runs")
                }
            else:
                shutil.rmtree(root)
        build_s = [r["build_s"] for r in reps]
        # the first build also pays JVM JIT warm-up; the median leaves it out
        self.e2e["setup_s"] = self.session_s + corpus_s + statistics.median(
            r["build_s"] + r["open_s"] for r in reps
        )
        self.e2e["build_docs_per_s"] = N_DOCS / statistics.median(build_s)
        self.e2e["index_bytes_per_content_byte"] = self.index_bytes / self.content_bytes
        self.layer.update({
            "session.start_s": self.session_s,
            "build.ms": _ms(build_s),
            "build.spark_jobs": statistics.median(r["jobs"] for r in reps),
            "query.engine_open_ms": _ms([r["open_s"] for r in reps]),
            **{f"build.stage_ms.{s}": _ms([r["stages"].get(s, 0.0) for r in reps]) for s in STAGES},
            **{
                f"storage.bytes_per_content_byte.{d}": b / self.content_bytes
                for d, b in self.storage.items()
            },
        })
        self.diag.update({
            "corpus_s": corpus_s, "builds": reps,
            "content_bytes": self.content_bytes, "index_bytes": self.index_bytes,
        })
        self.ranked = streams.ranked_terms(self.root)

    def serve(self) -> None:
        """The read-only phase: ROUNDS rounds, each of ``seconds / ROUNDS``
        of searches followed by a share of the phrases, so that both sample
        the whole phase rather than one stretch of it (a shared host
        drifts over seconds); then the hydrated searches."""
        hot = self.workload == "serve_hot"
        self.stream = (
            streams.hot_queries(self.rng, self.ranked) if hot
            else streams.cold_queries(self.rng, self.ranked)
        )
        self.next_q = 0
        # untimed: hot fills the LRUs with every hot posting list; cold
        # spends WARM_COLD queries (their terms are not asked again) on the
        # first-call costs of the read path
        for q in self.stream if hot else [self._next_query() for _ in range(WARM_COLD)]:
            self._op(self.engine.search, q)
        t = time.perf_counter()
        self.phrases = streams.phrases(
            self.rng, self.engine, os.path.join(self.root, "documents"), self.ranked, PHRASES
        )
        self.diag["phrase_select_s"] = time.perf_counter() - t
        self.phrase_hits: dict[str, list] = {}
        self._op(self.engine.search_phrase, self.phrases[0])  # untimed first call
        hydrate_qs = [self._next_query() for _ in range(HYDRATED + 1)]
        sample = set(self.rng.choice(COUNT_PREFIX, ORACLE_BM25, replace=False).tolist())
        self.bm25_sample: list[tuple[str, list]] = []
        ctr = {"hits": 0, "misses": 0, "scored": 0, "decoded": 0, "driver": 0, "distributed": 0}
        ph = {"cands": 0, "matches": 0, "distributed": 0, "jobs": 0}
        lat, lat_p, lat_h = [], [], []
        traced_from = None
        search_jobs = 0
        for rnd in range(ROUNDS):
            if self.trace and rnd == ROUNDS // 2:
                # later rounds run traced: trace.overhead_ms compares the halves
                traced_from = len(lat)
                self._install_tracer()
            n0, t_end = len(lat), time.perf_counter() + self.seconds / ROUNDS
            jw = self._jobs()
            while time.perf_counter() < t_end or len(lat) - n0 < MIN_SEARCHES // ROUNDS:
                q = self._next_query()
                c: dict = {}
                s = time.perf_counter()
                hits = self._op(self.engine.search, q, counters=c)
                lat.append(time.perf_counter() - s)
                i = len(lat) - 1
                if i < COUNT_PREFIX:
                    ctr["hits"] += c.get("light_cache_hits", 0)
                    ctr["misses"] += c.get("light_cache_misses", 0)
                    ctr["scored"] += c.get("postings_scored", 0)
                    ctr["decoded"] += c.get("driver_postings_decoded", 0)
                    ctr["driver"] += c.get("path") == "driver"
                    ctr["distributed"] += c.get("path") == "distributed"
                    if i in sample and hits is not None:
                        self.bm25_sample.append((q, hits))
                    if i == COUNT_PREFIX - 1:
                        prefix_jobs = search_jobs + self._jobs() - jw
            search_jobs += self._jobs() - jw  # Spark jobs launched by searches only
            per = len(self.phrases) // ROUNDS
            j1 = self._jobs()
            for p in self.phrases[rnd * per : (rnd + 1) * per]:
                c = {}
                s = time.perf_counter()
                with self._span("phrase.search_phrase"):
                    self.phrase_hits[p] = self._op(self.engine.search_phrase, p, counters=c)
                lat_p.append(time.perf_counter() - s)
                ph["cands"] += int(c.get("candidates") or 0)
                ph["matches"] += int(c.get("phrase_df") or 0)
                ph["distributed"] += c.get("path") == "distributed"
            ph["jobs"] += self._jobs() - j1
        # hydrated searches run Spark jobs; they come after the search rounds
        # so that JVM work they leave behind (GC, compilation) does not land
        # in search latencies
        self._op(lambda: self.engine.search_df(hydrate_qs[0]).collect())  # untimed first call
        j2 = self._jobs()
        for q in hydrate_qs[1:]:
            s = time.perf_counter()
            with self._span("hydrate.search_df_collect"):
                rows = self._op(lambda: self.engine.search_df(q).collect())
            lat_h.append(time.perf_counter() - s)
            if rows is not None:
                want = self._op(self.engine.search, q)
                self._check(all(r["sha_ok"] for r in rows), f"hydrated {q!r}: sha256 mismatch")
                self._check(
                    want is not None and [r["doc_id"] for r in rows] == [d for d, _ in want],
                    f"hydrated {q!r}: rows {[r['doc_id'] for r in rows]} != search {want}",
                )
        hydrate_jobs = self._jobs() - j2
        untraced = lat if traced_from is None else lat[:traced_from]
        self.e2e.update({
            "search_p50_ms": _ms(untraced),
            "search_p90_ms": float(np.percentile(untraced, 90)) * 1e3,
            "phrase_p50_ms": _ms(lat_p),
            "hydrated_p50_ms": _ms(lat_h),
        })
        hit_ratio = ctr["hits"] / max(1, ctr["hits"] + ctr["misses"])
        self.layer.update({
            "wand.postings_scored_per_search": ctr["scored"] / COUNT_PREFIX,
            "wand.driver_postings_decoded_per_search": ctr["decoded"] / COUNT_PREFIX,
            "wand.light_cache_hit_ratio": hit_ratio,
            "wand.path_driver_share": ctr["driver"] / COUNT_PREFIX,
            "wand.path_distributed_share": ctr["distributed"] / COUNT_PREFIX,
            "wand.spark_jobs_per_search": prefix_jobs / COUNT_PREFIX,
            "phrase.spark_jobs_per_query": ph["jobs"] / len(lat_p),
            "phrase.candidates_per_match": ph["cands"] / max(1, ph["matches"]),
            "phrase.path_distributed_share": ph["distributed"] / len(lat_p),
            "hydrate.spark_jobs_per_query": hydrate_jobs / len(lat_h),
        })
        if traced_from is not None:
            self.serve_spans = len(self.tracer.spans)
            self.layer["trace.overhead_ms"] = _ms(lat[traced_from:]) - _ms(lat[:traced_from])
        self.diag["serve"] = {
            # p99 is kept out of the gated metrics: with ~1,000 searches it
            # rests on the 10 slowest, and short host stalls move it by 2x
            "p99_ms": float(np.percentile(untraced, 99)) * 1e3,
            "searches": len(lat), "stream": len(self.stream), "traced_from": traced_from,
            "prefix_counts": ctr, "prefix_jobs": prefix_jobs, "phrases": ph,
        }
        # workload self-checks: each workload exercises what it claims
        if hot:
            self._check(hit_ratio >= 0.99, f"serve_hot light-cache hit ratio {hit_ratio} < 0.99")
            self._check(prefix_jobs == 0, f"serve_hot ran {prefix_jobs} Spark jobs in searches")
            self._check(ctr["decoded"] == 0, f"serve_hot decoded {ctr['decoded']} postings")
        else:
            self._check(hit_ratio <= 0.01, f"serve_cold light-cache hit ratio {hit_ratio} > 0.01")

    def _next_query(self) -> str:
        if self.workload == "serve_hot":
            q = self.stream[self.next_q % len(self.stream)]
        elif self.next_q < len(self.stream):
            q = self.stream[self.next_q]
        else:
            raise RuntimeError("cold query stream exhausted: corpus too small for the run")
        self.next_q += 1
        return q

    def _install_tracer(self) -> None:
        tr = self.tracer = Tracer(self._jobs)
        tr.wrap(Engine, "search", "query.search")
        tr.wrap(Engine, "refresh", "query.refresh")
        tr.wrap(wand, "tokenize_py", "wand.tokenize_py")
        tr.wrap(wand, "varbyte_decode", "codec.varbyte_decode")
        tr.wrap(segment_reader, "read_segment_rows", "segment_reader.read_segment_rows")
        tr.wrap(codec, "decode_all_postings", "codec.decode_all_postings")
        tr.wrap(incremental, "build_index", "incremental.build_index", jobs=True)
        tr.wrap(incremental, "assign_doc_ids", "incremental.assign_doc_ids")

    def record_state(self, state: str, keep, rerun: bool) -> None:
        """Keep sampled BM25 and phrase answers of the current index state
        for :meth:`check_states`; ``keep`` selects the state's documents.
        The serve state keeps answers given in the timed loop; later states
        re-ask one query of each kind."""
        bm25 = self.bm25_sample
        phrase = [(p, self.phrase_hits[p]) for p in self.phrases[:1]]
        if rerun:
            bm25 = [(q, self._op(self.engine.search, q)) for q, _ in bm25[:1]]
            phrase = [(p, self._op(self.engine.search_phrase, p)) for p, _ in phrase]
        self.states.append((
            state, keep,
            [(q, h) for q, h in bm25 if h is not None],
            [(p, h) for p, h in phrase if h is not None],
        ))

    def check_states(self) -> None:
        """Oracle checks of every recorded state, at the end of the run so
        that no timed phase waits for them, then Engine.verify(strict=True)."""
        t = time.perf_counter()
        # every document any recorded state held
        docs = self.spark.read.parquet(
            self.all_docs if self.trace else os.path.join(self.root, "documents")
        )
        for state, res in oracle_check.check_states(docs, self.cfg, self.states).items():
            self.diag[f"oracle.{state}"] = res
            self.bit_diffs += res["score_bit_diffs"]
            self.problems.extend(f"{state}: {m}" for m in res["mismatches"])
        self.diag["oracle.s"] = time.perf_counter() - t
        v = self._op(self.engine.verify, strict=True)
        self._check(v is not None, "Engine.verify(strict=True) failed")

    def ingest(self) -> None:
        spark = self.spark
        batches_dir = os.path.join(self.work, "appends")
        generate_corpus(
            spark, APPENDS * APPEND_DOCS, seed=self.seed, start=N_DOCS, parts=APPENDS
        ).write.parquet(batches_dir)
        files = sorted(
            os.path.join(batches_dir, f) for f in os.listdir(batches_dir) if f.endswith(".parquet")
        )
        append_s, jobs, after_lat = [], [], []
        written = appended = compactions = 0
        gens_max = len(segment_generations(self.root))
        for f in files:
            appended += _content_bytes(f)
            before = _snapshot(self.root)
            n_gens = len(segment_generations(self.root))
            j0 = self._jobs()
            t = time.perf_counter()
            with self._span("incremental.append_documents", jobs=True):
                self._op(incremental.append_documents, spark, self.root,
                         spark.read.parquet(f), self.acfg, n_groups=1)
            self._op(self.engine.refresh)
            append_s.append(time.perf_counter() - t)
            self.full_refreshes += self.engine.last_meta_load.get("mode") == "full"
            jobs.append(self._jobs() - j0)
            written += _bytes_written(before, _snapshot(self.root))
            gens = len(segment_generations(self.root))
            compactions += gens <= n_gens
            gens_max = max(gens_max, gens)
            for _ in range(SEARCHES_AFTER_APPEND):
                q = self._next_query()
                s = time.perf_counter()
                self._op(self.engine.search, q)
                after_lat.append(time.perf_counter() - s)
        self.layer.update({
            "append.ms_p50": _ms(append_s),
            "append.write_bytes_per_content_byte": written / appended,
            "ingest.search_p50_ms": _ms(after_lat),
            "append.spark_jobs_per_batch": sum(jobs) / len(jobs),
            "append.compactions": compactions,
            "segments.generations_max": gens_max,
        })
        self.diag["append"] = {"s": append_s, "jobs": jobs, "written": written, "appended": appended}
        self._check(compactions >= 1, "no size-tiered compaction fired during the appends")
        # the forward index after the appends holds every document of every state
        self.all_docs = os.path.join(self.work, "all-documents")
        shutil.copytree(os.path.join(self.root, "documents"), self.all_docs)
        self.record_state("after_append", F.lit(True), rerun=True)

        n_total = N_DOCS + APPENDS * APPEND_DOCS
        per = int(n_total * DELETE_FRAC)
        victims = self.rng.choice(n_total, PURGES * per, replace=False)
        purge_s, purge_jobs = [], []
        for c in range(PURGES):
            j0 = self._jobs()
            t = time.perf_counter()
            with self._span("incremental.purge", jobs=True):
                self._op(incremental.delete_documents, spark, self.root, self.acfg,
                         doc_ids=np.sort(victims[c * per : (c + 1) * per]).tolist())
                self._op(incremental.purge_deletes, spark, self.root, self.acfg)
                self._op(self.engine.refresh)
            purge_s.append(time.perf_counter() - t)
            purge_jobs.append(self._jobs() - j0)
            self.full_refreshes += self.engine.last_meta_load.get("mode") == "full"
        self.layer.update({
            "purge.ms": _ms(purge_s),
            "purge.spark_jobs": statistics.median(purge_jobs),
        })
        self.diag["purge"] = {"s": purge_s, "jobs": purge_jobs}
        for _ in range(SEARCHES_AFTER_PURGE):
            self._op(self.engine.search, self._next_query())
        self.record_state("after_purge", ~F.col("doc_id").isin(victims.tolist()), rerun=True)

    def finish(self) -> None:
        self.e2e["driver_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        self.layer["oracle.score_bit_diffs"] = self.bit_diffs
        self.layer["query.refresh_full_count"] = self.full_refreshes
        self.layer["env.cpu_probe_ms"] = self.diag["env.cpu_probe_ms"]
        self.layer["env.spark_job_floor_ms"] = self.diag["env.spark_job_floor_ms"]
        if self.tracer is not None:
            self.tracer.restore()
            self.layer.update(span_metrics(self.tracer, self.serve_spans))

    def stop(self) -> None:
        stop_spark(self.spark)


def span_metrics(tr: Tracer, serve_spans: int) -> dict[str, float]:
    """Per-layer numbers from the recorded spans; per-search numbers come
    from the serve phase's searches (the first ``serve_spans`` spans)."""
    kids = tr.children()

    def under(i: int, name: str) -> list[int]:
        return [d for d in tr.descendants(i, kids) if tr.spans[d]["name"] == name]

    out: dict[str, float] = {}
    searches = [
        i for i in tr.named("query.search") if i < serve_spans and tr.spans[i]["parent"] is None
    ]
    reads = [sum(tr.duration(d) for d in under(i, "segment_reader.read_segment_rows")) for i in searches]
    decode = [
        sum(tr.duration(d) for n in ("codec.varbyte_decode", "codec.decode_all_postings") for d in under(i, n))
        for i in searches
    ]
    out["query.search_self_ms_p50"] = _ms([tr.self_time(i, kids) for i in searches])
    out["segment_reader.read_ms_per_search_p50"] = _ms(reads)
    out["segment_reader.calls_per_search"] = sum(
        len(under(i, "segment_reader.read_segment_rows")) for i in searches) / len(searches)
    out["codec.decode_ms_per_search_p50"] = _ms(decode)
    out["codec.heavy_decodes_per_search"] = sum(
        len(under(i, "codec.decode_all_postings")) for i in searches) / len(searches)
    out["trace.search_accounted_share"] = statistics.mean(
        (tr.self_time(i, kids) + sum(tr.duration(c) for c in kids.get(i, ()))) / tr.duration(i)
        for i in searches
    )
    hyd = tr.named("hydrate.search_df_collect")
    out["hydrate.ms_p50"] = _ms([tr.self_time(i, kids) for i in hyd])
    refresh = tr.named("query.refresh")
    out["query.refresh_ms_p50"] = _ms([tr.duration(i) for i in refresh])
    appends = tr.named("incremental.append_documents")
    merge = [sum(tr.duration(d) for d in under(i, "incremental.build_index")) for i in appends]
    out["append.merge_ms_p50"] = _ms(merge)
    out["append.pre_merge_ms_p50"] = _ms([tr.duration(i) - m for i, m in zip(appends, merge)])
    out["trace.append_accounted_share"] = statistics.mean(
        (tr.self_time(i, kids) + sum(tr.duration(c) for c in kids.get(i, ()))) / tr.duration(i)
        for i in appends
    )
    return out


def cpu_probe_ms() -> float:
    """Fixed NumPy work (sort of 1M float64), median of 5: machine drift."""
    a = np.random.default_rng(0).random(1_000_000)
    ts = []
    for _ in range(5):
        t = time.perf_counter()
        np.sort(a)
        ts.append(time.perf_counter() - t)
    return _ms(ts)


def _stage_seconds(t0: float, events: list[tuple[float, str]]) -> dict[str, float]:
    """Seconds per build stage: each log line ends the stage it names."""
    out: dict[str, float] = {}
    prev = t0
    for t, msg in events:
        stage = msg.split()[0].rstrip(":")
        out[stage] = out.get(stage, 0.0) + t - prev
        prev = t
    return out


def _content_bytes(path: str) -> int:
    col = papq.read_table(path, columns=["content"]).column("content")
    return int(pc.sum(pc.binary_length(col)).as_py())


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten since ``before``."""
    return sum(size for p, (size, m) in after.items() if before.get(p) != (size, m))


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> Run:
    r = Run(workload, seed, seconds, trace, work)
    phases = r.diag["phase_s"] = {}
    t = time.perf_counter()
    r.start()
    phases["start"] = time.perf_counter() - t
    try:
        for name, fn in (
            ("setup", r.setup),
            ("serve", r.serve),
            ("record", lambda: r.record_state("serve", F.col("doc_id") < N_DOCS, rerun=False)),
            *([("ingest", r.ingest)] if trace else []),
            ("check", r.check_states),
            ("finish", r.finish),
        ):
            t = time.perf_counter()
            fn()
            phases[name] = time.perf_counter() - t
    finally:
        if r.tracer is not None:
            r.tracer.restore()
        r.stop()
    return r
