"""Tokenizer: golden outputs + every implementation equal to tokenize_py
(SURVEY.md §5: golden token lists incl. camelCase/snake_case/unicode)."""

from __future__ import annotations

import pandas as pd
import pytest

from dawnsearch_spark.functions.tokenizer import (
    tokenize_py,
    tokens_col,
)

GOLDEN = [
    ("def getUserId(self):", ["def", "get", "user", "id", "self"]),
    ("HTTPServer2", ["http", "server2"]),
    ("snake_case_name = 42", ["snake", "case", "name", "42"]),
    ("parseHTTPResponse", ["parse", "http", "response"]),
    ("let x=1; // comment", ["let", "x", "1", "comment"]),
    ("", []),
    ("   ", []),
    ("fn load_config(pathBuf: PathBuf) -> Result<Config>",
     ["fn", "load", "config", "path", "buf", "path", "buf", "result", "config"]),
    ("UPPER lower MixedCase", ["upper", "lower", "mixed", "case"]),
    ("héllo wörld", ["h", "llo", "w", "rld"]),  # non-ASCII = separator, all impls agree
]


@pytest.mark.parametrize("text,expected", GOLDEN)
def test_tokenize_py_golden(text, expected):
    assert tokenize_py(text) == expected


def test_spark_native_matches_py(spark):
    texts = [t for t, _ in GOLDEN] + ["abcDefGHIjkl", "a1B2c3"]
    df = spark.createDataFrame([(t,) for t in texts], "content string")
    rows = df.select(tokens_col("content").alias("toks")).collect()
    assert [r["toks"] for r in rows] == [tokenize_py(t) for t in texts]


def test_flat_arrow_matches_py():
    """tokenize_flat_arrow must produce the same token stream / per-doc
    counts as tokenize_py, for pandas Series AND pyarrow array inputs —
    including empty, None and whitespace-only rows."""
    import numpy as np
    import pyarrow as pa

    from dawnsearch_spark.functions.tokenizer import tokenize_flat_arrow

    # the Kelvin sign (U+212A) and dotted capital I (U+0130) lowercase to
    # ASCII alphanumerics — they must stay DELIMITERS (boundaries are
    # decided on the original text, like the py and JVM paths)
    texts = [t for t, _ in GOLDEN] + [
        "a_bC dE_f", "", None, "   ", "x", "212K of heat", "stopİgo",
    ]
    want_lists = [tokenize_py(t or "") for t in texts]
    want_flat = [tok for lst in want_lists for tok in lst]
    want_dl = [len(lst) for lst in want_lists]
    want_seg = [i for i, lst in enumerate(want_lists) for _ in lst]
    for src in (pd.Series(texts), pa.array(texts, pa.string())):
        flat, seg, dl = tokenize_flat_arrow(src)
        assert flat.to_pylist() == want_flat
        assert seg.tolist() == want_seg
        assert dl.tolist() == want_dl
