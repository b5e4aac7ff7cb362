"""Code-aware tokenizer.

Reference analog: the reference tokenizes with an ML WordPiece tokenizer in
batch mode (/root/reference/src/embedding/embedding_service.rs:101-120); per
the north rule we replace the embedding path with a lexical one, so the
tokenizer becomes a deterministic code-aware splitter:

  1. acronym boundary    "HTTPServer"  -> "HTTP Server"
  2. camelCase boundary  "getUserId"   -> "get UserId" -> "get User Id"
  3. every non-alphanumeric char (incl. '_') becomes a space
     ("snake_case" -> "snake case")
  4. lowercase
  5. split on whitespace, drop empties

Three equivalent implementations are provided and tested for equality:

* ``tokens_col``          — native Spark Column expressions (one fused
                            regex split), fully JVM-side + whole-stage
                            codegen: the hot path for index builds.
* ``tokenize_flat_arrow`` — pyarrow compute (RE2 + C++ kernels) returning
                            ONE flat token stream plus per-row offsets;
                            the positional matchers' and phrase serving's
                            tokenizer.
* ``tokenize_py``         — plain Python for single strings (driver-side
                            query tokenization; reference analog: the query
                            and the corpus share one tokenizer,
                            embedding_service.rs:97-139).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Rule regexes (Java + Python + RE2 compatible syntax).
ACRONYM_PAT = r"([A-Z]+)([A-Z][a-z])"
CAMEL_PAT = r"([a-z0-9])([A-Z])"
NONWORD_PAT = r"[^A-Za-z0-9]+"

# Fused single-pass boundary pattern: equivalent to applying the three
# substitution rules then splitting, but with zero string copies — the
# boundaries are zero-width lookarounds evaluated on the original text.
# (All three rule patterns are computed on the same original positions, so
# the replace-chain and the fused split produce identical tokens; the
# equivalence is pinned by the golden tests + the per-implementation
# equality tests in tests/test_tokenizer.py.)
BOUNDARY_PAT = r"[^A-Za-z0-9]+|(?<=[a-z0-9])(?=[A-Z])|(?<=[A-Z])(?=[A-Z][a-z])"

_ACRONYM_RE = re.compile(ACRONYM_PAT)
_CAMEL_RE = re.compile(CAMEL_PAT)
_NONWORD_RE = re.compile(NONWORD_PAT)


def tokens_col(col: Column | str) -> Column:
    """Array-of-tokens Column, computed entirely JVM-side (no UDF).

    One regex split pass (fused boundary pattern) instead of three
    regexp_replace string rewrites — the tokenizer is the dominant CPU of
    an index build, and the replace chain costs 3 full-string copies per
    document plus GC churn."""
    c = F.col(col) if isinstance(col, str) else col
    arr = F.split(c, BOUNDARY_PAT)
    return F.filter(F.transform(arr, F.lower), lambda x: x != F.lit(""))


def tokenize_flat_arrow(texts) -> tuple:
    """(flat_tokens, seg, dl) via pyarrow compute (RE2 + C++ kernels).

    The vectorized twin of ``tokens_col`` for Arrow/pandas batches, as
    ONE concatenated token stream instead of per-row lists: ``flat_tokens``
    is a pyarrow StringArray of every token in document order, ``seg``
    maps each token to its row ordinal, ``dl`` is per-row token counts.
    C++ kernels instead of pandas object-dtype ``str`` ops (the corpus
    tokenize is the dominant CPU of every positional/TF pass), and
    token-identical: the two camel/acronym substitutions plus the
    non-word split are the same rules, RE2 and Python ``re`` agree on
    these ASCII patterns, and empty fragments are dropped exactly like
    ``split()`` does (pinned by tests/test_tokenizer.py).

    Accepts a pandas Series or a pyarrow (Chunked)Array of strings.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(texts, pd.Series):
        arr = pa.Array.from_pandas(texts.fillna(""), type=pa.string())
    else:
        arr = texts
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        if arr.null_count:
            arr = pc.fill_null(arr, "")
    a = pc.replace_substring_regex(arr, ACRONYM_PAT, r"\1 \2")
    a = pc.replace_substring_regex(a, CAMEL_PAT, r"\1 \2")
    # split BEFORE lowering, exactly like the reference implementations: a
    # non-ASCII char whose LOWERCASE is ASCII alphanumeric (U+212A KELVIN
    # -> 'k', U+0130 -> 'i') must stay a delimiter, so boundaries are
    # decided on the original text; tokens are lowercased afterwards
    # (lowercasing never produces whitespace or changes run boundaries)
    la = pc.split_pattern_regex(a, NONWORD_PAT)
    if isinstance(la, pa.ChunkedArray):  # pragma: no cover - single chunk in
        la = la.combine_chunks()
    # flatten() + list_value_length are slice-safe (a raw .values/.offsets
    # pair would misalign on a sliced ListArray)
    values = la.flatten()
    lengths = pc.list_value_length(la).to_numpy(zero_copy_only=False).astype(np.int64)
    offs = np.zeros(len(lengths) + 1, np.int64)
    np.cumsum(lengths, out=offs[1:])
    nonempty = pc.not_equal(values, "").to_numpy(zero_copy_only=False)
    cum = np.zeros(len(values) + 1, np.int64)
    np.cumsum(nonempty, out=cum[1:])
    dl = cum[offs[1:]] - cum[offs[:-1]]
    flat = pc.utf8_lower(values.filter(pa.array(nonempty)))
    seg = np.repeat(np.arange(len(dl), dtype=np.int64), dl)
    return flat, seg, dl


def tokenize_py(text: str) -> list[str]:
    """Single-string tokenizer (driver-side query parsing)."""
    if not text:
        return []
    c = _ACRONYM_RE.sub(r"\1 \2", text)
    c = _CAMEL_RE.sub(r"\1 \2", c)
    c = _NONWORD_RE.sub(" ", c)
    return c.lower().split()
