"""Correctness gate: engine answers against the package's exact oracles.

BM25 results must match ``operators.oracle.bm25_exact_topk`` and phrase
results ``operators.boolquery.phrase_topk``. Both scan the documents each
index state should hold: one frame of every document any state held,
filtered to the state's doc IDs. Every sampled query of one state goes
into one union, and the states are checked side by side.

DocIDs and phrase counts must be equal. Scores must agree to 1e-9
relative, the tolerance of the package's own oracle tests: the engine sums
in NumPy and the oracle in the JVM, and some scores differ in the last
bits. Those bit-level differences are counted and reported, not hidden."""

from __future__ import annotations

import functools
import math
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawnsearch_spark.operators.boolquery import phrase_topk
from dawnsearch_spark.operators.oracle import bm25_exact_topk
from dawnsearch_spark.operators.tf import (
    corpus_stats,
    document_frequencies,
    term_frequencies,
)

REL_TOL = 1e-9


def check_states(documents: DataFrame, cfg, states: list[tuple]) -> dict[str, dict]:
    """Compare recorded engine answers of several index states with the
    oracles.

    ``documents``: every document any state held, with its doc_id.
    ``states``: [(name, keep, bm25, phrase)] where ``keep`` is a Column that
    selects the state's documents, ``bm25`` is [(query, [(doc_id, score)])]
    and ``phrase`` is [(phrase, [(doc_id, phrase_tf, score)])]. Tokenizing
    happens once; the states are checked side by side. Returns per state
    {checked, mismatches: [text], score_bit_diffs}."""
    tf_all = term_frequencies(documents).cache()
    # (doc_id, dl) from the tf rows: one tokenizing pass instead of two. A
    # document without tokens would drop out of the stats and fail the
    # check, never pass it silently.
    dl_all = tf_all.select("doc_id", "dl").dropDuplicates(["doc_id"]).cache()
    try:
        dl_all.count()

        def one(state):
            name, keep, bm25, phrase = state
            return name, _check(documents.filter(keep), tf_all.filter(keep),
                                dl_all.filter(keep), cfg, bm25, phrase)

        with ThreadPoolExecutor(len(states)) as ex:
            return dict(ex.map(one, states))
    finally:
        tf_all.unpersist()
        dl_all.unpersist()


def _check(documents, tf, doclens, cfg, bm25, phrase) -> dict:
    stats = corpus_stats(doclens)
    dfs = document_frequencies(tf)
    frames = [
        bm25_exact_topk(tf, dfs, stats, q, cfg)
        .select("doc_id", "score", F.lit(None).cast("long").alias("phrase_tf"))
        .withColumn("qi", F.lit(i))
        for i, (q, _) in enumerate(bm25)
    ] + [
        phrase_topk(documents, tf, stats, p, cfg)
        .select("doc_id", "score", "phrase_tf")
        .withColumn("qi", F.lit(len(bm25) + i))
        for i, (p, _) in enumerate(phrase)
    ]
    rows = functools.reduce(DataFrame.unionByName, frames).collect()
    want: dict[int, list] = {}
    for r in rows:
        want.setdefault(int(r["qi"]), []).append(r)
    mismatches: list[str] = []
    bit_diffs = 0
    cases = [(q, [(d, None, s) for d, s in got]) for q, got in bm25] + phrase
    for qi, (q, got) in enumerate(cases):
        exp = sorted(want.get(qi, []), key=lambda r: (-r["score"], r["doc_id"]))
        kind = "bm25" if qi < len(bm25) else "phrase"
        if [g[0] for g in got] != [int(r["doc_id"]) for r in exp]:
            mismatches.append(f"{kind} {q!r}: docIDs {[g[0] for g in got]} != oracle "
                              f"{[int(r['doc_id']) for r in exp]}")
            continue
        for (d, ptf, s), r in zip(got, exp):
            if ptf is not None and ptf != int(r["phrase_tf"]):
                mismatches.append(f"{kind} {q!r}: doc {d} phrase_tf {ptf} != {r['phrase_tf']}")
                break
            if not math.isclose(s, r["score"], rel_tol=REL_TOL, abs_tol=0.0):
                mismatches.append(f"{kind} {q!r}: doc {d} score {s!r} != {r['score']!r}")
                break
            bit_diffs += s != r["score"]
    return {"checked": len(cases), "mismatches": mismatches, "score_bit_diffs": bit_diffs}
