"""Deterministic synthetic source-code corpus (no external data).

Schema per BASELINE.json ``input_hint``:
    (repo string, path string, commit string, lang string, content string)

mirroring the reference's document unit ``ExtractedPage``
(/root/reference/src/search/page_source.rs:44-50) re-expressed for a
source-code corpus. Generation is:

* **distributed** — ``spark.range(n)`` + ``mapInPandas``; every value is a
  pure vectorized function of the row id (splitmix64 counter hashing), so
  output is identical at any partitioning / parallelism (required for the
  local[8]-vs-local[32] scaling evidence and byte-identical resume tests);
* **Zipf-skewed** — token ranks follow ~1/rank, so keyword-like terms
  (``def``, ``import``, ``public``, ...) appear in most docs and exercise
  the heavy-term doc-range split (SURVEY.md §7 hard part 2/5);
* **code-shaped** — camelCase and snake_case identifiers in raw form so the
  code-aware tokenizer's splitting is exercised, plus per-doc unique terms
  (singleton postings) and punctuation noise.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"

# Deterministic vocabulary building blocks.
KEYWORDS = [
    "def", "import", "return", "class", "let", "fn", "pub", "public",
    "static", "void", "if", "else", "for", "while", "match", "self",
    "new", "const",
]
WORDS = [
    "get", "set", "load", "parse", "read", "write", "index", "query",
    "term", "doc", "merge", "block", "hash", "token", "config", "http",
    "json", "file", "path", "data", "value", "count", "score", "search",
    "result", "cache", "buffer", "stream", "batch", "shard", "range",
    "salt", "heap", "sort", "list", "node", "tree", "map", "key", "store",
    "commit", "repo", "lang", "text", "byte", "bit", "mask", "flag",
    "code", "line",
]
LANGS = [("py", "python"), ("rs", "rust"), ("java", "java"), ("ts", "typescript"), ("c", "c")]

_U64 = np.uint64


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — vectorized counter-based hashing."""
    with np.errstate(over="ignore"):
        x = (x + _U64(0x9E3779B97F4A7C15)).astype(_U64)
        x = ((x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)).astype(_U64)
        x = ((x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)).astype(_U64)
        return x ^ (x >> _U64(31))


def _hash(seed: int, a: np.ndarray, b: np.ndarray | int = 0) -> np.ndarray:
    with np.errstate(over="ignore"):
        h = _mix64(np.asarray(a, _U64) + _U64(seed) * _U64(0x9E3779B97F4A7C15))
        return _mix64(h ^ (np.asarray(b, _U64) * _U64(0xC2B2AE3D27D4EB4F)))


def _u01(h: np.ndarray) -> np.ndarray:
    return (h >> _U64(11)).astype(np.float64) / float(1 << 53)


def build_vocab(size: int = 20000) -> list[str]:
    """Deterministic identifier vocabulary; rank 0..len(KEYWORDS) are the
    stopword-like keywords (they land on the lowest Zipf ranks -> highest
    document frequency)."""
    vocab = list(KEYWORDS)
    nw = len(WORDS)
    i = 0
    while len(vocab) < size:
        a, b, c = WORDS[i % nw], WORDS[(i // nw) % nw], WORDS[(i // (nw * nw)) % nw]
        style = i % 4
        if style == 0:
            vocab.append(f"{a}_{b}")
        elif style == 1:
            vocab.append(a + b.capitalize())  # camelCase, split by tokenizer
        elif style == 2:
            vocab.append(a + b.capitalize() + c.capitalize())
        else:
            vocab.append(f"{a}{i % 97}")
        i += 1
    return vocab[:size]


def generate_corpus(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    vocab_size: int = 20000,
    min_tokens: int = 30,
    max_tokens: int = 600,
    n_repos: int = 50,
    parts: int | None = None,
    start: int = 0,
) -> DataFrame:
    """Distributed deterministic corpus of ``n_docs`` pseudo-source files.

    ``start`` offsets the generation counter: ``generate_corpus(s, n, start=m)``
    yields exactly the rows m..m+n-1 of ``generate_corpus(s, m+n)`` (counter-
    based hashing), which makes deterministic incremental-append fixtures."""
    vocab = np.array(build_vocab(vocab_size))
    V = len(vocab)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy(np.uint64)
            n = len(ids)
            if n == 0:
                continue
            # doc length
            dl = (min_tokens + (_u01(_hash(seed, ids, 1)) ** 2.0) * (max_tokens - min_tokens)).astype(np.int64)
            total = int(dl.sum())
            doc_idx = np.repeat(np.arange(n), dl)
            pos = np.arange(total) - np.repeat(np.cumsum(dl) - dl, dl)
            # Zipf(s~1) rank via inverse-CDF trick: rank = floor(V**u)
            u = _u01(_hash(seed, ids[doc_idx], pos + 10))
            rank = np.minimum((np.power(float(V), u) - 1.0).astype(np.int64), V - 1)
            toks = vocab[rank]
            # ~1 per 64 tokens becomes a doc-unique rare term
            uniq_mask = _hash(seed, ids[doc_idx], pos + 7_000_000) % _U64(64) == 0
            if uniq_mask.any():
                uids = ids[doc_idx][uniq_mask]
                upos = pos[uniq_mask]
                toks = toks.astype(object)
                toks[uniq_mask] = [f"uniq{int(d)}x{int(p)}" for d, p in zip(uids, upos)]
            # punctuation / line structure: deterministic per position
            sep_sel = _hash(seed, ids[doc_idx], pos + 3_000_000) % _U64(12)
            seps = np.array([" ", " ", " ", "(", ") ", ".", " = ", ";\n", ", ", " ", "\n    ", " "])
            glue = seps[sep_sel.astype(np.int64)]
            pieces = pd.Series(np.char.add(toks.astype(str), glue))
            content = pieces.groupby(doc_idx).agg("".join)
            # identity columns
            h = _hash(seed, ids, 2)
            org = (h % _U64(7)).astype(np.int64)
            rep = ((h >> _U64(8)) % _U64(max(1, n_repos // 7))).astype(np.int64)
            ext_i = ((h >> _U64(16)) % _U64(len(LANGS))).astype(np.int64)
            exts = np.array([e for e, _ in LANGS])
            langs = np.array([l for _, l in LANGS])
            commit_h1 = _hash(seed, ids, 3)
            commit_h2 = _hash(seed, ids, 4)
            commit_h3 = _hash(seed, ids, 5)
            out = pd.DataFrame(
                {
                    "repo": [f"org{o}/repo{r}" for o, r in zip(org, rep)],
                    "path": [
                        f"src/mod{int(i) % 23}/file_{int(i)}.{e}"
                        for i, e in zip(ids, exts[ext_i])
                    ],
                    "commit": [
                        f"{a:016x}{b:016x}{c:016x}"[:40]
                        for a, b, c in zip(commit_h1, commit_h2, commit_h3)
                    ],
                    "lang": langs[ext_i],
                    "content": content.to_numpy(),
                }
            )
            yield out

    parts = parts or max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(start, start + n_docs, 1, parts)
    return base.mapInPandas(gen, schema=CORPUS_SCHEMA)


def with_content_sha(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Per-row integrity column (input_hint invariant; reference analog: the
    startup full-scan verify, /root/reference/src/search/search_provider.rs:289-327)."""
    return df.withColumn("content_sha", F.sha2(F.col(content_col), 256))


# The reference query set (FIXTURES.md §3): deterministic, checked in here.
# Mix of (a) heavy keyword terms, (b) mid-df shared identifiers (in both
# camelCase-raw and tokenized form), (c) rare/unique terms, (d) absent
# terms, (e) multi-term combinations.
REFERENCE_QUERIES: dict[int, str] = {
    1: "def",
    2: "import return",
    3: "parse http request",
    4: "getValue",
    5: "load_config",
    6: "index query term",
    7: "public static void",
    8: "cacheBufferStream",
    9: "merge block hash",
    10: "zzzabsentterm",
    11: "def zzzabsentterm",
    12: "token config http json",
    13: "shard range salt",
    14: "heap sort list",
    15: "let fn pub",
    16: "readWrite index",
    17: "store commit repo",
    18: "data value count score",
    19: "search result cache",
    20: "class self new const",
    21: "get set load parse read",
    22: "byte bit mask flag",
    23: "code line",
    24: "if else for while match",
    25: "query_term docMerge",
}
