"""Seeded operation streams, derived from a built index and the seed.

The program sees only the generated query strings; the seed stays here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as papq

from dawnsearch_spark.corpus import REFERENCE_QUERIES
from dawnsearch_spark.functions.tokenizer import tokenize_py

HOT_TERMS = 2000  # vocabulary ranks (by df) that hot queries draw from
HOT_BAGS = 500  # distinct hot term bags, plus the 25 reference queries
COLD_TERMS_PER_QUERY = 3
# A phrase costs a fixed part plus a part per candidate (a document that
# holds both terms). Phrases are kept to one candidate band so that their
# median cost does not jump with the seed.
PHRASE_CANDIDATES = (100, 150)


def ranked_terms(index_root: str) -> list[tuple[str, int]]:
    """(term, df) of the index dictionary, most frequent first."""
    t = papq.read_table(os.path.join(index_root, "terms"), columns=["term", "df"])
    pairs = zip(t.column("term").to_pylist(), t.column("df").to_pylist())
    # a term that does not tokenize to itself cannot be asked for by name
    return sorted(
        ((term, int(df)) for term, df in pairs if tokenize_py(term) == [term]),
        key=lambda p: (-p[1], p[0]),
    )


def hot_queries(rng: np.random.Generator, ranked) -> list[str]:
    """Zipf-weighted bags of 1-4 terms over the most frequent terms, plus
    the reference queries, in seeded order."""
    hot = [t for t, _ in ranked[:HOT_TERMS]]
    w = 1.0 / np.arange(1, len(hot) + 1)
    w /= w.sum()
    bags = {
        " ".join(sorted(rng.choice(hot, size=int(rng.integers(1, 5)), replace=False, p=w)))
        for _ in range(HOT_BAGS)
    }
    out = sorted(bags) + list(REFERENCE_QUERIES.values())
    rng.shuffle(out)
    return out


def cold_queries(rng: np.random.Generator, ranked) -> list[str]:
    """3-term queries over every term outside the hot ranks, each term used
    once: every posting list a cold query needs is fetched and decoded for
    the first time."""
    cold = [t for t, _ in ranked[HOT_TERMS:]]
    rng.shuffle(cold)
    n = COLD_TERMS_PER_QUERY
    return [" ".join(cold[i : i + n]) for i in range(0, len(cold) - n + 1, n)]


def phrases(rng: np.random.Generator, engine, documents_dir: str, ranked, n: int) -> list[str]:
    """Two adjacent tokens from seeded documents, kept when the number of
    documents holding both (``Engine.count`` in AND mode, postings only)
    lies inside PHRASE_CANDIDATES."""
    lo, hi = PHRASE_CANDIDATES
    df = dict(ranked)
    n_docs = engine.stats_.n_docs
    ids = np.sort(papq.read_table(documents_dir, columns=["doc_id"]).column("doc_id").to_numpy())
    dataset = pads.dataset(documents_dir, format="parquet")
    out: list[str] = []
    seen: set[str] = set()
    for _ in range(20):
        pick = rng.choice(ids, size=4 * n, replace=False)
        tbl = dataset.to_table(
            columns=["doc_id", "content"],
            filter=pads.field("doc_id").isin(pick.tolist()),
        ).sort_by("doc_id")
        for content in tbl.column("content").to_pylist():
            toks = tokenize_py(content)
            for i in rng.permutation(len(toks) - 1)[:8]:
                phrase = f"{toks[i]} {toks[i + 1]}"
                # ask Engine.count only when the terms' dfs, taken as
                # independent, predict a candidate count near the band
                guess = df.get(toks[i], 0) * df.get(toks[i + 1], 0) / n_docs
                if toks[i] == toks[i + 1] or phrase in seen or not lo / 2 <= guess <= 2 * hi:
                    continue
                seen.add(phrase)
                if lo <= engine.count(phrase, mode="and") <= hi:
                    out.append(phrase)
                    break
            if len(out) == n:
                return out
    raise RuntimeError(f"only {len(out)} of {n} phrases fit the candidate band {PHRASE_CANDIDATES}")
