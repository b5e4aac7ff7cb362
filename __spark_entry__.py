"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 top-10 over the sf0.001 ``documents``
table, hydrated. ``queries()`` / ``oracle_sql()`` — one entry per
implemented operator family from SURVEY.md §2, each with an ANSI-SQL twin
the driver runs in DuckDB at sf0.01 (row-count + schema + value-hash).

Column-name & value parity rules used throughout:
* every computed column is aliased identically on both sides;
* float aggregates are rounded (4-6 dp) on both sides; sums that must be
  bit-stable are over integer-valued columns (exact in fp);
* tokenization is the engine's code-aware tokenizer, mirrored exactly in
  DuckDB SQL (same regex chain, 'g' flags).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dawnsearch_spark.config import EngineConfig
from dawnsearch_spark.functions.tokenizer import tokens_col
from dawnsearch_spark.operators.dedup import (
    embedding_near_duplicates,
    jaccard_pairs_exact,
    word_shingles,
)
from dawnsearch_spark.operators.oracle import bm25_exact_topk
from dawnsearch_spark.operators.similarity import cosine_topk
from dawnsearch_spark.operators.text_analysis import (
    EN_STOPWORDS,
    alpha_ratio,
    lang_guess,
    normalized_fingerprint,
    quality_score,
    stopword_ratio,
    ws_token_count,
)
from dawnsearch_spark.operators.tf import (
    document_frequencies,
    term_frequencies,
)

CFG = EngineConfig()

BM25_QUERY_1 = "table scan query"
BM25_QUERY_2 = "window shuffle customer"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # engine-shaped view of the driver's documents table, routed through
    # the iceberg-or-parquet source layer (input_hint: Iceberg table; this
    # sandbox's testdata is plain parquet, which "auto" detects)
    from dawnsearch_spark.sources import read_documents

    df = read_documents(spark, f"{sf_dir}/documents.parquet", format="auto")
    return df.withColumnRenamed("text", "content")


# --------------------------------------------------------------------------
# DuckDB SQL fragments mirroring the code-aware tokenizer (tokenizer.py):
# acronym split, camel split, non-alnum -> space, lower, split, drop empties.
# --------------------------------------------------------------------------
def _tok_sql(col: str) -> str:
    return (
        "list_filter(regexp_split_to_array(lower(trim("
        f"regexp_replace(regexp_replace(regexp_replace({col}, "
        "'([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g'), "
        "'([a-z0-9])([A-Z])', '\\1 \\2', 'g'), "
        "'[^A-Za-z0-9]+', ' ', 'g'))), ' +'), x -> x <> '')"
    )


_WS_TOKS = "list_filter(regexp_split_to_array(lower(trim({col})), '\\s+'), x -> x <> '')"


def _cos_sql(a: str, b: str) -> str:
    """float64 cosine with sequential left folds — bit-identical to the
    Spark ``cosine_sim_col`` evaluation (dedup.py)."""
    def dot(x, y):
        return (
            f"list_reduce(list_transform(range(1, len({x}) + 1), "
            f"i -> {x}[i]::DOUBLE * {y}[i]::DOUBLE), (acc, v) -> acc + v)"
        )

    return f"({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"


def _bm25_sql(query_terms: list[str], k: int = 10, where: str = "TRUE") -> str:
    """Exact-BM25 top-k oracle SQL. ``where`` restricts the corpus — the
    delete-lifecycle gate passes the survivor predicate, and the oracle's
    N/avgdl/df then all derive from the survivors only (exactly what a
    post-purge index must serve)."""
    terms_in = ", ".join(f"'{t}'" for t in query_terms)
    toks = _tok_sql("text")
    src = f"(SELECT * FROM documents WHERE {where})"
    return f"""
WITH dl AS (
  SELECT doc_id, len({toks})::DOUBLE AS dl FROM {src} AS documents
),
st AS (
  SELECT (SELECT count(*) FROM {src})::DOUBLE AS n, avg(dl) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({toks}) AS term FROM {src} AS documents)
  WHERE term IN ({terms_in})
  GROUP BY doc_id, term
),
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id,
         sum( ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
              * tf.tf * ({CFG.k1} + 1.0)
              / (tf.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / st.avgdl)) ) AS s
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 6) AS score FROM sc ORDER BY s DESC, doc_id LIMIT {k}
"""


def _boost_sql(weights: dict[str, float], k: int = 10) -> str:
    """Boosted-BM25 oracle: each term's contribution multiplied by its
    float boost (Lucene BoostQuery) — same kernel as _bm25_sql plus a
    VALUES-list weights join."""
    toks = _tok_sql("text")
    terms_in = ", ".join(f"'{t}'" for t in sorted(weights))
    vals = ", ".join(f"('{t}', {float(w)})" for t, w in sorted(weights.items()))
    return f"""
WITH dl AS (
  SELECT doc_id, len({toks})::DOUBLE AS dl FROM documents
),
st AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl
),
wts(term, w) AS (VALUES {vals}),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
  WHERE term IN ({terms_in})
  GROUP BY doc_id, term
),
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id,
         sum( wts.w * ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
              * tf.tf * ({CFG.k1} + 1.0)
              / (tf.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / st.avgdl)) ) AS s
  FROM tf JOIN dfq USING (term) JOIN wts USING (term)
       JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 6) AS score FROM sc ORDER BY s DESC, doc_id LIMIT {k}
"""


def _snippet_sql(query_terms: list[str], w: int = 8, k: int = 10) -> str:
    """Best-window snippet oracle: candidates = the exact-BM25 top-k;
    every window start scored by distinct query terms in the window,
    earliest-max wins, snippet recomputed byte-identically."""
    toks = _tok_sql("text")
    terms = ", ".join(f"'{t}'" for t in sorted(set(query_terms)))
    return f"""
WITH cand AS ({_bm25_sql(query_terms, k=k)}),
t AS (SELECT d.doc_id, {toks} AS t FROM documents d JOIN cand USING (doc_id)),
pos AS (SELECT doc_id, t, unnest(range(1, greatest(1, len(t) - {w - 1}) + 1)) AS s FROM t),
sc AS (SELECT doc_id, s,
         len(list_distinct(list_intersect(list_slice(t, s, s + {w - 1}),
             [{terms}])))::BIGINT AS sc
       FROM pos),
best AS (SELECT doc_id, s, sc,
           row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, s ASC) AS rn
         FROM sc)
SELECT b.doc_id, array_to_string(list_slice(t.t, b.s, b.s + {w - 1}), ' ') AS snippet,
       b.sc AS n_matched
FROM best b JOIN t USING (doc_id) WHERE rn = 1
"""


def _bm25f_sql(
    query_terms: list[str],
    k: int = 10,
    title_len: int = 12,
    w_title: float = 2.0,
    w_body: float = 1.0,
) -> str:
    """BM25F oracle: title = first ``title_len`` tokens, body = remainder;
    per-field length-normalized weighted tf summed into one
    pseudo-frequency, document-level idf, single saturation."""
    toks = _tok_sql("text")
    terms_in = ", ".join(f"'{t}'" for t in sorted(set(query_terms)))
    return f"""
WITH base AS (SELECT doc_id, {toks} AS t FROM documents),
f AS (
  SELECT doc_id, 'title' AS field, {w_title} AS w,
         list_slice(t, 1, {title_len}) AS ft FROM base
  UNION ALL
  SELECT doc_id, 'body' AS field, {w_body} AS w,
         list_slice(t, {title_len} + 1, len(t)) AS ft FROM base
),
dl AS (SELECT doc_id, field, w, len(ft)::DOUBLE AS dl FROM f),
ad AS (SELECT field, avg(dl) AS avgdl FROM dl GROUP BY field),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n),
tf AS (
  SELECT doc_id, field, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, field, unnest(ft) AS term FROM f)
  WHERE term IN ({terms_in})
  GROUP BY doc_id, field, term
),
dfq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY term),
px AS (
  SELECT tf.doc_id, tf.term,
         sum(dl.w * tf.tf / (1.0 - 0.75 + 0.75 * dl.dl / ad.avgdl)) AS tfx
  FROM tf JOIN dl USING (doc_id, field) JOIN ad USING (field)
  GROUP BY tf.doc_id, tf.term
),
sc AS (
  SELECT px.doc_id,
         sum( ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
              * ({CFG.k1} + 1.0) * px.tfx / ({CFG.k1} + px.tfx) ) AS s
  FROM px JOIN dfq USING (term) CROSS JOIN st
  GROUP BY px.doc_id
)
SELECT doc_id, round(s, 6) AS score FROM sc ORDER BY s DESC, doc_id LIMIT {k}
"""


def _phrase_sql(terms: list[str], k: int = 10) -> str:
    """Exact-phrase BM25 oracle: positional adjacency recomputed in SQL
    (1-indexed DuckDB lists; positions i in 1..len-m+1 where every shifted
    token equals the phrase term), then single-synthetic-term BM25 with
    df = number of matching docs."""
    m = len(terms)
    adj = " AND ".join(f"t[i+{j}] = '{t}'" for j, t in enumerate(terms))
    toks = _tok_sql("text")
    return f"""
WITH d AS (SELECT doc_id, {toks} AS t FROM documents),
dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM d),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
pt AS (
  SELECT doc_id,
         len(list_filter(range(1, len(t) - {m} + 2), i -> {adj}))::BIGINT AS phrase_tf
  FROM d
),
mt AS (SELECT doc_id, phrase_tf FROM pt WHERE phrase_tf > 0),
dfp AS (SELECT count(*)::DOUBLE AS dfp FROM mt),
sc AS (
  SELECT mt.doc_id, mt.phrase_tf,
         ln((st.n - dfp.dfp + 0.5) / (dfp.dfp + 0.5) + 1.0)
         * mt.phrase_tf * ({CFG.k1} + 1.0)
         / (mt.phrase_tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / st.avgdl)) AS s
  FROM mt JOIN dl USING (doc_id) CROSS JOIN st CROSS JOIN dfp
)
SELECT doc_id, phrase_tf, round(s, 6) AS score
FROM sc ORDER BY s DESC, doc_id LIMIT {k}
"""


def _bool_sql(
    must: list[str], should: list[str], must_not: list[str], k: int = 10
) -> str:
    """Boolean BM25 oracle: score over must+should terms with corpus-wide
    per-term df, containment via HAVING over the distinct (doc, term)
    rows, exclusion via NOT IN over the must_not postings."""
    score_terms = sorted(set(must) | set(should))
    terms_in = ", ".join(f"'{t}'" for t in score_terms)
    must_in = ", ".join(f"'{t}'" for t in must)
    not_in = ", ".join(f"'{t}'" for t in must_not)
    toks = _tok_sql("text")
    excl = (
        f"AND tf.doc_id NOT IN (SELECT DISTINCT doc_id FROM "
        f"(SELECT doc_id, unnest({toks}) AS term FROM documents) "
        f"WHERE term IN ({not_in}))"
        if must_not
        else ""
    )
    return f"""
WITH dl AS (
  SELECT doc_id, len({toks})::DOUBLE AS dl FROM documents
),
st AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
  WHERE term IN ({terms_in})
  GROUP BY doc_id, term
),
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id,
         sum( ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
              * tf.tf * ({CFG.k1} + 1.0)
              / (tf.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / st.avgdl)) ) AS s
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  WHERE TRUE {excl}
  GROUP BY tf.doc_id
  HAVING sum(CASE WHEN tf.term IN ({must_in}) THEN 1 ELSE 0 END) = {len(must)}
)
SELECT doc_id, round(s, 6) AS score FROM sc ORDER BY s DESC, doc_id LIMIT {k}
"""


def _prefix_sql(prefix: str, k: int = 10, cap: int = 128) -> str:
    """Prefix-rewrite oracle: expand against the SQL-side term dictionary
    (df desc, term asc, capped), then OR-BM25 over the expansion with
    corpus-wide per-term df — identical to the Spark rewrite."""
    toks = _tok_sql("text")
    return f"""
WITH dl AS (
  SELECT doc_id, len({toks})::DOUBLE AS dl FROM documents
),
st AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl
),
tfall AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
  GROUP BY doc_id, term
),
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tfall GROUP BY term),
exp AS (
  SELECT term, df FROM dfq WHERE term LIKE '{prefix}%'
  ORDER BY df DESC, term LIMIT {cap}
),
sc AS (
  SELECT tfall.doc_id,
         sum( ln((st.n - exp.df + 0.5) / (exp.df + 0.5) + 1.0)
              * tfall.tf * ({CFG.k1} + 1.0)
              / (tfall.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / st.avgdl)) ) AS s
  FROM tfall JOIN exp USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfall.doc_id
)
SELECT doc_id, round(s, 6) AS score FROM sc ORDER BY s DESC, doc_id LIMIT {k}
"""


def _suggest_sql(prefix: str, n: int = 10) -> str:
    """Suggester oracle: cf from the flat token stream, prefix filter,
    cf desc / term asc, top-n."""
    toks = _tok_sql("text")
    return f"""
WITH t AS (SELECT unnest({toks}) AS term FROM documents),
d AS (SELECT term, count(*)::BIGINT AS cf FROM t GROUP BY term)
SELECT term, cf FROM d WHERE term LIKE '{prefix}%' ORDER BY cf DESC, term LIMIT {n}
"""


def _grouped_sql(query_terms: list[str], group_col: str, per_group: int = 3,
                 candidates: int = 100) -> str:
    """Field-collapsing oracle: the same BM25 top-N candidate set, one
    rank-per-group window, keep the best per_group."""
    return f"""
WITH sc AS ({_bm25_sql(query_terms, k=candidates)}),
g AS (
  SELECT sc.doc_id, d.{group_col}, sc.score,
         row_number() OVER (PARTITION BY d.{group_col}
                            ORDER BY sc.score DESC, sc.doc_id) AS rank_in_group
  FROM sc JOIN documents d USING (doc_id))
SELECT doc_id, {group_col}, score, rank_in_group
FROM g WHERE rank_in_group <= {per_group}
"""


def _synonym_sql(synonyms: list[str], k: int = 10) -> str:
    """SynonymQuery oracle: tf summed over the group, df = max over the
    group, one BM25 saturation."""
    toks = _tok_sql("text")
    terms_in = ", ".join(f"'{t}'" for t in sorted(synonyms))
    return f"""
WITH dl AS (
  SELECT doc_id, len({toks})::DOUBLE AS dl FROM documents
),
st AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
  WHERE term IN ({terms_in})
  GROUP BY doc_id, term
),
mx AS (SELECT max(df) AS df FROM (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term)),
merged AS (SELECT doc_id, sum(tf) AS tf FROM tf GROUP BY doc_id),
sc AS (
  SELECT m.doc_id,
         ln((st.n - mx.df + 0.5) / (mx.df + 0.5) + 1.0)
         * m.tf * ({CFG.k1} + 1.0)
         / (m.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / st.avgdl)) AS s
  FROM merged m JOIN dl USING (doc_id) CROSS JOIN st CROSS JOIN mx
)
SELECT doc_id, round(s, 6) AS score FROM sc ORDER BY s DESC, doc_id LIMIT {k}
"""


def _spellcheck_sql(word: str, max_edits: int = 2, n: int = 5) -> str:
    """Spellcheck oracle: Levenshtein over the SQL-side dictionary,
    distance asc / df desc / term asc, exact term excluded."""
    toks = _tok_sql("text")
    return f"""
WITH t AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
d AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM t GROUP BY term),
sc AS (SELECT term, levenshtein(term, '{word}')::INT AS distance, df FROM d)
SELECT term, distance, df FROM sc
WHERE distance <= {max_edits} AND distance > 0
ORDER BY distance, df DESC, term LIMIT {n}
"""


def _wildcard_to_regex(pattern: str) -> str:
    from dawnsearch_spark.operators.boolquery import wildcard_to_regex

    return wildcard_to_regex(pattern.lower())


def _regex_sql(pattern: str, k: int = 10, cap: int = 128) -> str:
    """Regex-rewrite oracle: anchored full-match expansion against the
    SQL-side term dictionary (``regexp_full_match`` — the same whole-term
    contract as the Spark side's anchored ``rlike``), df desc / term asc,
    capped, then OR-BM25 over the expansion."""
    toks = _tok_sql("text")
    return f"""
WITH dl AS (
  SELECT doc_id, len({toks})::DOUBLE AS dl FROM documents
),
st AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl
),
tfall AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
  GROUP BY doc_id, term
),
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tfall GROUP BY term),
exp AS (
  SELECT term, df FROM dfq WHERE regexp_full_match(term, '{pattern}')
  ORDER BY df DESC, term LIMIT {cap}
),
sc AS (
  SELECT tfall.doc_id,
         sum( ln((st.n - exp.df + 0.5) / (exp.df + 0.5) + 1.0)
              * tfall.tf * ({CFG.k1} + 1.0)
              / (tfall.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / st.avgdl)) ) AS s
  FROM tfall JOIN exp USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfall.doc_id
)
SELECT doc_id, round(s, 6) AS score FROM sc ORDER BY s DESC, doc_id LIMIT {k}
"""


def _fuzzy_sql(q: str, k: int = 10, max_edits: int = 1, cap: int = 50) -> str:
    """Fuzzy-rewrite oracle: Levenshtein expansion (distance asc, df desc,
    term asc, capped) then OR-BM25 — identical to the Spark rewrite."""
    toks = _tok_sql("text")
    return f"""
WITH dl AS (
  SELECT doc_id, len({toks})::DOUBLE AS dl FROM documents
),
st AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl
),
tfall AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
  GROUP BY doc_id, term
),
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tfall GROUP BY term),
exp AS (
  SELECT term, df FROM dfq WHERE levenshtein(term, '{q}') <= {max_edits}
  ORDER BY levenshtein(term, '{q}') ASC, df DESC, term LIMIT {cap}
),
sc AS (
  SELECT tfall.doc_id,
         sum( ln((st.n - exp.df + 0.5) / (exp.df + 0.5) + 1.0)
              * tfall.tf * ({CFG.k1} + 1.0)
              / (tfall.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / st.avgdl)) ) AS s
  FROM tfall JOIN exp USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tfall.doc_id
)
SELECT doc_id, round(s, 6) AS score FROM sc ORDER BY s DESC, doc_id LIMIT {k}
"""


def _explain_sql(query_terms: list[str]) -> str:
    """Explain oracle: re-derives the top-1 doc and every per-term BM25
    component (tf, dl, df, idf, tscore) plus the doc total in SQL."""
    terms_in = ", ".join(f"'{t}'" for t in query_terms)
    toks = _tok_sql("text")
    return f"""
WITH dl AS (
  SELECT doc_id, len({toks})::DOUBLE AS dl FROM documents
),
st AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
  WHERE term IN ({terms_in})
  GROUP BY doc_id, term
),
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
parts AS (
  SELECT tf.doc_id, tf.term, tf.tf, dl.dl, dfq.df,
         ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) AS idf,
         ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
         * tf.tf * ({CFG.k1} + 1.0)
         / (tf.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / st.avgdl)) AS tscore
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
),
sc AS (SELECT doc_id, sum(tscore) AS s FROM parts GROUP BY doc_id),
top1 AS (SELECT doc_id, s FROM sc ORDER BY s DESC, doc_id LIMIT 1)
SELECT p.doc_id, p.term, p.tf::BIGINT AS tf, p.dl::BIGINT AS dl,
       p.df::BIGINT AS df, round(p.idf, 6) AS idf,
       round(p.tscore, 6) AS tscore, round(top1.s, 6) AS total
FROM parts p JOIN top1 USING (doc_id)
"""


def _near_sql(ta: str, tb: str, w: int, k: int = 10) -> str:
    """Proximity oracle: positions recomputed per doc in SQL; prox_tf =
    count of ``ta`` positions with a ``tb`` within ``w`` tokens, scored as
    one synthetic BM25 term with df = matching docs."""
    toks = _tok_sql("text")
    return f"""
WITH d AS (SELECT doc_id, {toks} AS t FROM documents),
dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM d),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
pos AS (
  SELECT doc_id,
         list_filter(range(1, len(t) + 1), i -> t[i] = '{ta}') AS pa,
         list_filter(range(1, len(t) + 1), i -> t[i] = '{tb}') AS pb
  FROM d
),
pt AS (
  SELECT doc_id,
         len(list_filter(pa, i ->
             len(list_filter(pb, j -> abs(i - j) <= {w})) > 0))::BIGINT AS prox_tf
  FROM pos
),
mt AS (SELECT doc_id, prox_tf FROM pt WHERE prox_tf > 0),
dfp AS (SELECT count(*)::DOUBLE AS dfp FROM mt),
sc AS (
  SELECT mt.doc_id, mt.prox_tf,
         ln((st.n - dfp.dfp + 0.5) / (dfp.dfp + 0.5) + 1.0)
         * mt.prox_tf * ({CFG.k1} + 1.0)
         / (mt.prox_tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / st.avgdl)) AS s
  FROM mt JOIN dl USING (doc_id) CROSS JOIN st CROSS JOIN dfp
)
SELECT doc_id, prox_tf, round(s, 6) AS score
FROM sc ORDER BY s DESC, doc_id LIMIT {k}
"""


def _facet_sql(query_terms: list[str], facet_cols: list[str]) -> str:
    """OR-match facet counts: distinct match ids from the query terms'
    postings, then one count per (facet, value)."""
    terms_in = ", ".join(f"'{t}'" for t in query_terms)
    toks = _tok_sql("text")
    unions = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS facet, {c}::VARCHAR AS value, count(*)::BIGINT AS n_docs "
        f"FROM j GROUP BY {c}"
        for c in facet_cols
    )
    return f"""
WITH m AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
  WHERE term IN ({terms_in})
),
j AS (SELECT d.* FROM documents d JOIN m USING (doc_id))
{unions}
"""


def _corpus_rows(sf_dir: str) -> int | None:
    """documents.parquet row count from parquet footer metadata (exact,
    no Spark job); None -> caller falls back to docs.count()."""
    p = f"{sf_dir}/documents.parquet"
    try:
        import glob

        import pyarrow.parquet as papq

        if os.path.isfile(p):
            return papq.ParquetFile(p).metadata.num_rows
        if os.path.isdir(p):
            return sum(
                papq.ParquetFile(f).metadata.num_rows
                for f in glob.glob(os.path.join(p, "*.parquet"))
            )
    except Exception:
        return None
    return None


def _tf_and_stats(spark: SparkSession, sf_dir: str):
    """(docs, tf, stats) with ONE corpus tokenize: the scoring plans
    consume the TF relation 2-4x (df aggregate, expansion, scoring join,
    exclusion), and each reference otherwise re-runs the Arrow tokenize
    over the whole corpus — so TF is persisted for the query's duration.
    Stats derive from it exactly: n_docs is the corpus row count
    (parquet-metadata count), total_tokens = sum(tf) because a doc's dl
    is by definition the sum of its term frequencies (docs with zero
    tokens contribute zero either way), and avgdl = total/n is the same
    exact-integer-sum + single-float-division value corpus_stats computed
    from the separate doc-length pass (every intermediate is < 2^53, so
    the doubles are exact)."""
    from pyspark.storagelevel import StorageLevel

    from dawnsearch_spark.operators.tf import CorpusStats

    docs = _docs(spark, sf_dir)
    tf = term_frequencies(_par(spark, docs)).persist(StorageLevel.MEMORY_AND_DISK)
    n = _corpus_rows(sf_dir)
    if n is None:
        n = docs.count()
    total = int(tf.agg(F.sum("tf")).collect()[0][0] or 0)
    stats = CorpusStats(
        n_docs=int(n), avgdl=total / n if n else 0.0, total_tokens=total
    )
    return docs, tf, stats


def _pruned_tf_and_stats(spark: SparkSession, sf_dir: str, terms):
    """(docs, tf, dfs, stats) from ONE tokenize pass emitting only the
    given terms' TF rows plus per-batch token totals
    (tf.term_frequencies_pruned). Values are identical to the full-TF
    derivation: df/cf per kept term count the same rows, total_tokens is
    the same Σ tf, avgdl the same single float division — but nothing
    corpus-sized is shuffled or cached."""
    from pyspark.storagelevel import StorageLevel

    from dawnsearch_spark.operators.tf import CorpusStats, term_frequencies_pruned

    docs = _docs(spark, sf_dir)
    raw = term_frequencies_pruned(_par(spark, docs), terms).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n = _corpus_rows(sf_dir)
    if n is None:
        n = docs.count()
    total = int(
        raw.filter(F.col("doc_id") < 0).agg(F.sum("tf")).collect()[0][0] or 0
    )
    tf = raw.filter(F.col("doc_id") >= 0)
    dfs = document_frequencies(tf)
    stats = CorpusStats(
        n_docs=int(n), avgdl=total / n if n else 0.0, total_tokens=total
    )
    return docs, tf, dfs, stats


def _par(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread a small compressed source across the cluster before a
    compute-heavy per-row scan: the driver tables arrive as a handful of
    row-group splits (a 5 MB zstd text file = ~6 tasks), which serializes
    codegen'd string/array expression chains onto a few cores no matter
    how many exist. The repartition shuffles only the few-MB source;
    results are row-identical (the gate comparison is order-insensitive).
    Scale-adaptive: partition count follows the session's parallelism,
    never a constant."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _bm25_spark(spark: SparkSession, sf_dir: str, query: str, k: int = 10) -> DataFrame:
    from dawnsearch_spark.functions.tokenizer import tokenize_py

    docs, tf, dfs, stats = _pruned_tf_and_stats(
        spark, sf_dir, tokenize_py(query)
    )
    top = bm25_exact_topk(tf, dfs, stats, query, CFG, k=k)
    return top.select("doc_id", F.round("score", 6).alias("score"))


# --------------------------------------------------------------------------
# queries() implementations
# --------------------------------------------------------------------------

def q_doclen_stats(spark, sf_dir):
    """A1/A7: corpus statistics for BM25."""
    docs = _par(spark, _docs(spark, sf_dir))
    dl = docs.select(F.size(tokens_col("content")).cast("long").alias("dl"))
    return dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )


def q_term_tf(spark, sf_dir):
    """A6: per-(doc, term) term frequency — full tokenizer parity check."""
    docs = _par(spark, _docs(spark, sf_dir))
    return (
        term_frequencies(docs)
        .select("term", "doc_id", "tf")
        .filter(F.col("term").startswith("s"))  # bounded output, still thousands of rows
    )


def q_doc_freq(spark, sf_dir):
    """A7: document/collection frequency per term."""
    docs = _par(spark, _docs(spark, sf_dir))
    return document_frequencies(term_frequencies(docs)).select("term", "df", "cf")


def q_bm25_topk_1(spark, sf_dir):
    """T3/E1: exact BM25 top-10 (flagship semantics)."""
    return _bm25_spark(spark, sf_dir, BM25_QUERY_1)


def q_bm25_topk_2(spark, sf_dir):
    return _bm25_spark(spark, sf_dir, BM25_QUERY_2)


SNIPPET_WINDOW = 8
BOOST_QUERY = {"table": 1.0, "scan": 2.5, "query": 0.25}


def q_boost_topk(spark, sf_dir):
    """Per-term float boosts (Lucene BoostQuery semantics): a
    ``{term: boost}`` bag where each boost multiplies the term's BM25
    contribution — honored end-to-end in float (query_terms_df/qtf)."""
    docs, tf, dfs, stats = _pruned_tf_and_stats(
        spark, sf_dir, BOOST_QUERY.keys()
    )
    top = bm25_exact_topk(tf, dfs, stats, BOOST_QUERY, CFG, k=10)
    return top.select("doc_id", F.round("score", 6).alias("score"))


def q_wand_boost(spark, sf_dir):
    """The SAME boosted query served from the segment index: float
    weights flow through every WAND scoring and bound path — must agree
    exactly with the batch oracle."""
    from dawnsearch_spark.plans.query import Engine

    root = _wand_index_root(spark, sf_dir)
    hits = Engine(spark, root, _wand_cfg()).search(BOOST_QUERY)
    out = spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits] or [], "doc_id long, score double"
    )
    return out.select("doc_id", F.round("score", 6).alias("score"))


def q_snippets(spark, sf_dir):
    """Query-aware best-window snippets (operators/snippets.py) for the
    BM25 top-10 of the flagship query. Candidate-bounded: the top-k ids
    are broadcast into the doc scan so the O(dl·window) window scorer
    touches k rows, never the corpus; inside a row everything is native
    Column expressions (sequence/slice/array_intersect) in whole-stage
    codegen. Exact contract (token window joined by spaces, earliest-max
    tie-break) — the DuckDB twin recomputes every snippet string
    byte-identically."""
    from dawnsearch_spark.operators.snippets import best_snippets

    docs = _t(spark, sf_dir, "documents")
    top = _bm25_spark(spark, sf_dir, BM25_QUERY_1).select("doc_id")
    cand = docs.join(F.broadcast(top), "doc_id")
    return best_snippets(cand, BM25_QUERY_1, window=SNIPPET_WINDOW)


def q_bm25f_topk(spark, sf_dir):
    """Fielded BM25F top-10 (operators/bm25f.py): title = first 12
    tokens (weight 2.0), body = remainder (weight 1.0), per-field length
    normalization, document-level idf — Robertson & Zaragoza's simple
    BM25F. Exact golden-truth scorer like bm25_topk (the serving path
    stays WAND); the oracle recomputes every field tf, per-field avgdl,
    and the saturated combination in SQL."""
    from dawnsearch_spark.operators.bm25f import bm25f_topk

    docs = _t(spark, sf_dir, "documents")
    out = bm25f_topk(docs, BM25_QUERY_1, k=10, k1=CFG.k1)
    return out.select("doc_id", F.round("score", 6).alias("score"))


PHRASE_QUERY = "hash join"
BOOL_MUST = ["dup", "merge"]
BOOL_SHOULD = ["window", "filter"]
BOOL_MUST_NOT = ["customer"]
FACET_QUERY = "table scan query"
PREFIX_QUERY = "s"
NEAR_A, NEAR_B, NEAR_W = "hash", "scan", 3
FUZZY_QUERY = "aig"  # 1 edit from both "agg" and "big": multi-term expansion


def q_phrase_topk(spark, sf_dir):
    """Exact-phrase BM25 top-10 (operators/boolquery.py): postings
    intersection prunes candidates, adjacency verified on candidate rows
    only, phrase scored as one synthetic term (tf = occurrences, df =
    matching docs). The oracle recomputes adjacency positionally in SQL."""
    from dawnsearch_spark.operators.boolquery import phrase_topk

    from dawnsearch_spark.functions.tokenizer import tokenize_py

    docs, tf, _dfs, stats = _pruned_tf_and_stats(
        spark, sf_dir, tokenize_py(PHRASE_QUERY)
    )
    top = phrase_topk(docs, tf, stats, PHRASE_QUERY, CFG)
    return top.select("doc_id", "phrase_tf", F.round("score", 6).alias("score"))


def q_bool_topk(spark, sf_dir):
    """Boolean BM25 top-10 (must/should/must_not, Lucene semantics)."""
    from dawnsearch_spark.operators.boolquery import boolean_topk

    from dawnsearch_spark.functions.tokenizer import tokenize_py

    _bool_terms = {
        t
        for s_ in (BOOL_MUST + BOOL_SHOULD + BOOL_MUST_NOT)
        for t in tokenize_py(s_)
    }
    docs, tf, dfs, stats = _pruned_tf_and_stats(spark, sf_dir, _bool_terms)
    top = boolean_topk(
        tf, dfs, stats, CFG,
        must=BOOL_MUST, should=BOOL_SHOULD, must_not=BOOL_MUST_NOT,
    )
    return top.select("doc_id", F.round("score", 6).alias("score"))


def q_prefix_topk(spark, sf_dir):
    """Prefix-query BM25 top-10 (Lucene PrefixQuery rewrite: bounded
    term-dictionary expansion, highest-df first, then pure-OR scoring)."""
    from dawnsearch_spark.operators.boolquery import prefix_topk

    docs, tf, stats = _tf_and_stats(spark, sf_dir)
    dfs = document_frequencies(tf)
    top = prefix_topk(tf, dfs, stats, PREFIX_QUERY, CFG)
    return top.select("doc_id", F.round("score", 6).alias("score"))


def q_wand_prefix(spark, sf_dir):
    """The SAME prefix query served from the segment index: expansion via
    the driver-resident sorted term dictionary (binary-search slice),
    scoring through the normal WAND path — must agree exactly with the
    batch rewrite's oracle."""
    from dawnsearch_spark.plans.query import Engine

    root = _wand_index_root(spark, sf_dir)
    hits = Engine(spark, root, _wand_cfg()).search_prefix(PREFIX_QUERY)
    out = spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits] or [], "doc_id long, score double"
    )
    return out.select("doc_id", F.round("score", 6).alias("score"))


def q_fuzzy_topk(spark, sf_dir):
    """Fuzzy-term BM25 top-10 (Lucene FuzzyQuery shape): Levenshtein
    expansion against the term dictionary, then pure-OR scoring. The
    query misspelling expands to MULTIPLE terms (agg, big) so the oracle
    checks expansion ordering, not just a single rewrite."""
    from dawnsearch_spark.operators.boolquery import fuzzy_topk

    docs, tf, stats = _tf_and_stats(spark, sf_dir)
    dfs = document_frequencies(tf)
    top = fuzzy_topk(tf, dfs, stats, FUZZY_QUERY, CFG)
    return top.select("doc_id", F.round("score", 6).alias("score"))


def q_wand_fuzzy(spark, sf_dir):
    """The SAME fuzzy query served from the segment index (terms-relation
    expansion + WAND) — must agree exactly with the batch rewrite."""
    from dawnsearch_spark.plans.query import Engine

    root = _wand_index_root(spark, sf_dir)
    hits = Engine(spark, root, _wand_cfg()).search_fuzzy(FUZZY_QUERY)
    out = spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits] or [], "doc_id long, score double"
    )
    return out.select("doc_id", F.round("score", 6).alias("score"))


REGEX_QUERY = "(qu|sc).*"  # full-match: multi-term expansion {query, scan, ...}
WILDCARD_QUERY = "?a??e"  # full-match: {table, value, ...}


def q_regex_topk(spark, sf_dir):
    """Regex term query BM25 top-10 (Lucene RegexpQuery shape): anchored
    full-match dictionary expansion via JVM ``rlike`` (metadata scan, df
    desc / term asc, capped), then pure-OR scoring — the same rewrite
    contract as prefix/fuzzy. Oracle expands with DuckDB
    ``regexp_full_match`` over the SQL-side dictionary."""
    from dawnsearch_spark.operators.boolquery import regex_topk

    docs, tf, stats = _tf_and_stats(spark, sf_dir)
    dfs = document_frequencies(tf)
    top = regex_topk(tf, dfs, stats, REGEX_QUERY, CFG)
    return top.select("doc_id", F.round("score", 6).alias("score"))


def q_wand_regex(spark, sf_dir):
    """The SAME regex query served from the segment index
    (``Engine.search_regex``: terms-relation expansion + WAND) — must
    agree exactly with the batch rewrite's oracle."""
    from dawnsearch_spark.plans.query import Engine

    root = _wand_index_root(spark, sf_dir)
    hits = Engine(spark, root, _wand_cfg()).search_regex(REGEX_QUERY)
    out = spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits] or [], "doc_id long, score double"
    )
    return out.select("doc_id", F.round("score", 6).alias("score"))


def q_wildcard_topk(spark, sf_dir):
    """Wildcard term query (``?a??e``) BM25 top-10: Lucene WildcardQuery
    translation (``*``->``.*``, ``?``->``.``) into the regex rewrite."""
    from dawnsearch_spark.operators.boolquery import wildcard_topk

    docs, tf, stats = _tf_and_stats(spark, sf_dir)
    dfs = document_frequencies(tf)
    top = wildcard_topk(tf, dfs, stats, WILDCARD_QUERY, CFG)
    return top.select("doc_id", F.round("score", 6).alias("score"))


SUGGEST_PREFIX = "s"
SYNONYM_GROUP = ["table", "vector"]


def q_grouped_topk(spark, sf_dir):
    """Result grouping / field collapsing (Lucene grouping module,
    operators/boolquery.py grouped_topk): collapse the top-100 BM25
    candidates of the flagship query to the best 3 per language —
    the diversified result page. The window rank runs over the SCORED
    set only (100 rows), never the corpus."""
    from dawnsearch_spark.operators.boolquery import grouped_topk

    docs = _t(spark, sf_dir, "documents")
    scored = _bm25_spark(spark, sf_dir, BM25_QUERY_1, k=100)
    return grouped_topk(docs, scored, group_col="lang", per_group=3)


def q_wand_grouped(spark, sf_dir):
    """The SAME field-collapsed result page served from the segment
    index (``Engine.search_grouped``: top-100 WAND hits — rank-identical
    to the exact oracle — joined to the group attribute, best 3 per
    language). Must agree with the batch collapse's oracle."""
    from dawnsearch_spark.plans.query import Engine

    root = _wand_index_root(spark, sf_dir)
    eng = Engine(spark, root, _wand_cfg())
    out = eng.search_grouped(BM25_QUERY_1, "lang", per_group=3,
                             candidates=100, round_scores=6)
    return out.select("doc_id", "lang", "score", "rank_in_group")


def q_synonym_topk(spark, sf_dir):
    """Lucene SynonymQuery semantics (operators/boolquery.py
    synonym_topk): a synonym group scores as ONE pseudo-term — per-doc
    tf summed over the group, df = MAX over the group (Lucene's
    documented contract; keeps a rare synonym from inflating idf)."""
    from dawnsearch_spark.operators.boolquery import synonym_topk

    from dawnsearch_spark.functions.tokenizer import tokenize_py

    _syn_terms = {t for s_ in SYNONYM_GROUP for t in tokenize_py(s_)}
    docs, tf, dfs, stats = _pruned_tf_and_stats(spark, sf_dir, _syn_terms)
    top = synonym_topk(tf, dfs, stats, SYNONYM_GROUP, CFG)
    return top.select("doc_id", F.round("score", 6).alias("score"))


def q_suggest_terms(spark, sf_dir):
    """Autocomplete suggester (operators/boolquery.py suggest_terms):
    top-10 dictionary terms under a prefix by collection frequency
    (cf desc, term asc) — a bounded metadata scan, never postings."""
    from dawnsearch_spark.operators.boolquery import suggest_terms

    docs = _par(spark, _docs(spark, sf_dir))
    dfs = document_frequencies(term_frequencies(docs))
    return suggest_terms(dfs, SUGGEST_PREFIX, n=10)


def q_wand_suggest(spark, sf_dir):
    """The SAME suggestion served from the index's committed term
    dictionary (``Engine.suggest`` over the terms relation) — identical
    by construction since the dictionary stores exact df/cf."""
    from dawnsearch_spark.plans.query import Engine

    root = _wand_index_root(spark, sf_dir)
    rows = Engine(spark, root, _wand_cfg()).suggest(SUGGEST_PREFIX, n=10)
    return spark.createDataFrame(rows or [], "term string, cf long")


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the events table
    (operators/sessionize.py): Spark-native ``session_window``
    aggregation (one shuffle on user_id, in-partition merge — no
    full-table sort), 30-minute gap. The oracle recomputes sessions as
    gaps-and-islands (lag + running sum) — exact on counts, bounds, and
    rounded value sums."""
    from dawnsearch_spark.operators.sessionize import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(ev, gap="30 minutes")


SPELL_QUERY = "quary"  # 1 edit from "query"; 2 edits reach several terms


def q_spellcheck(spark, sf_dir):
    """Did-you-mean suggestions (operators/boolquery.py spellcheck):
    dictionary terms within 2 edits of a misspelling, ranked distance
    asc / df desc / term asc — bounded metadata scan."""
    from dawnsearch_spark.operators.boolquery import spellcheck

    docs = _par(spark, _docs(spark, sf_dir))
    dfs = document_frequencies(term_frequencies(docs))
    return spellcheck(dfs, SPELL_QUERY, max_edits=2, n=5)


def q_wand_spellcheck(spark, sf_dir):
    """The SAME suggestions served from the index's committed term
    dictionary (``Engine.spellcheck``) — identical by construction."""
    from dawnsearch_spark.plans.query import Engine

    root = _wand_index_root(spark, sf_dir)
    rows = Engine(spark, root, _wand_cfg()).spellcheck(SPELL_QUERY, max_edits=2, n=5)
    return spark.createDataFrame(rows or [], "term string, distance int, df long")


def q_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): every click event picks up the
    most recent PRIOR purchase of the same user (inclusive backward
    match) — the point-in-time state-lookup primitive Spark lacks
    natively, expressed as tag-union + one key shuffle + an ordered
    in-partition window (never the O(|L|x|R|) range join). The oracle is
    DuckDB's NATIVE ``ASOF LEFT JOIN`` — an independent implementation
    of the same contract, the strongest kind of twin."""
    from dawnsearch_spark.operators.asof import asof_join
    from dawnsearch_spark.operators.sessionize import TS_FMT

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
    )
    out = asof_join(clicks, purchases, on="ts", by="user_id",
                    right_cols=["purchase_value"])
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT).alias("click_ts"),
        "purchase_value",
    )


def q_event_rollup(spark, sf_dir):
    """OLAP rollup: CUBE over (event_type, day) with count + value sum —
    Spark's native ``cube`` (one shuffle; grouping sets expanded
    map-side) vs DuckDB ``GROUP BY CUBE``. NULL grouping placeholders are
    coalesced to 'ALL' on both sides so the hash compare is
    unambiguous."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    return (
        ev.select("event_type", day, "value")
        .cube("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n",
            "sum_value",
        )
    )


def q_value_quantiles(spark, sf_dir):
    """Exact interpolated quantiles per event_type: Spark ``percentile``
    (exact, linear interpolation) vs DuckDB ``quantile_cont`` — the same
    type-7 definition, so values match to the rounding."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def q_profile_columns(spark, sf_dir):
    """Data-profiling operator: per-column null count, exact distinct
    count, and min/max over the documents table — one aggregate pass
    (at 100 TB swap count_distinct for approx_count_distinct; the gate
    keeps it exact so the oracle can too)."""
    d = _t(spark, sf_dir, "documents")
    rows = []
    for c in ("lang", "source"):
        rows.append(
            d.agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(c).isNull().cast("long")).alias("nulls"),
                F.count_distinct(F.col(c)).alias("n_distinct"),
                F.min(c).cast("string").alias("min_v"),
                F.max(c).cast("string").alias("max_v"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def q_curation_pipeline(spark, sf_dir):
    """FLAGSHIP COMPOSITION — the end-to-end training-data curation flow
    every individual operator exists for, chained: Gopher/C4 quality gate
    -> exact-dup keepers (normalized-md5, keep-min) -> near-dup CLUSTER
    keepers (Jaccard pairs -> connected components -> canonical) ->
    deterministic md5 split -> per-split doc/token counts. Every stage is
    the already-gate-green operator; the oracle chains their SQL twins
    into one statement (recursive CTE included) and must agree on every
    count. At 100 TB this is the actual pipeline shape: one quality scan,
    one fingerprint aggregate, pair generation bounded by shingle
    buckets, O(log n) CC rounds, then a codegen'd split projection."""
    from dawnsearch_spark.operators.dedup import dedup_clusters, dedup_exact
    from dawnsearch_spark.operators.split import assign_splits
    from dawnsearch_spark.operators.text_analysis import gopher_quality_filter

    docs = _t(spark, sf_dir, "documents")
    qual = gopher_quality_filter(docs, col="text")
    kept_q = docs.join(
        qual.filter(F.col("keep") == 1).select("doc_id"), "doc_id"
    )
    kept_e = dedup_exact(kept_q)
    pairs = jaccard_pairs_exact(kept_e, col="text", threshold=0.12)
    cl = dedup_clusters(pairs, kept_e)
    kept = kept_e.join(
        cl.filter(F.col("is_canonical")).select("doc_id"), "doc_id"
    )
    sp = assign_splits(kept, key_col="doc_id")
    return (
        sp.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens_col("text")).cast("long")).alias("total_tokens"),
        )
    )


def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment (operators/split.py):
    content-keyed md5 bucketing — stable across partitioning, engines,
    and reruns (randomSplit is not), the leakage-safe split a
    training-data pipeline needs. One codegen'd projection, no shuffle,
    no UDF; the oracle recomputes every bucket and label from the same
    md5 formula."""
    from dawnsearch_spark.operators.split import assign_splits

    docs = _t(spark, sf_dir, "documents")
    return assign_splits(docs, key_col="doc_id").select("doc_id", "bucket", "split")


def q_wand_explain(spark, sf_dir):
    """Lucene-style explain served from the index: per-term (tf, df, idf,
    tscore) breakdown rows for the TOP-1 doc of the flagship query, via
    block-directory point lookups (operators/explain.py). The oracle
    re-derives the top-1 doc AND every component in SQL, and the row
    total must equal the served search score exactly."""
    from dawnsearch_spark.operators.explain import explain_doc
    from dawnsearch_spark.operators.wand import search_index

    root = _wand_index_root(spark, sf_dir)
    hits = search_index(root, BM25_QUERY_1, _wand_cfg())
    top_doc = hits[0][0]
    exp = explain_doc(root, BM25_QUERY_1, top_doc, _wand_cfg())
    rows = [
        (
            int(exp["doc_id"]),
            m["term"],
            int(m["tf"]),
            int(m["dl"]),
            int(m["df"]),
            float(m["idf"]),
            float(m["tscore"]),
            float(exp["score"]),
        )
        for m in exp["matched"]
    ]
    out = spark.createDataFrame(
        rows,
        "doc_id long, term string, tf long, dl long, df long, "
        "idf double, tscore double, total double",
    )
    return out.select(
        "doc_id", "term", "tf", "dl", "df",
        F.round("idf", 6).alias("idf"),
        F.round("tscore", 6).alias("tscore"),
        F.round("total", 6).alias("total"),
    )


def q_near_topk(spark, sf_dir):
    """Proximity NEAR/3 BM25 top-10: unordered within-window
    co-occurrence scored as one synthetic term; the oracle recomputes
    every position pair in SQL."""
    from dawnsearch_spark.operators.boolquery import near_topk

    docs, tf, _dfs, stats = _pruned_tf_and_stats(
        spark, sf_dir, [NEAR_A, NEAR_B]
    )
    top = near_topk(docs, tf, stats, NEAR_A, NEAR_B, NEAR_W, CFG)
    return top.select("doc_id", "prox_tf", F.round("score", 6).alias("score"))


def q_wand_near(spark, sf_dir):
    """The NEAR/3 proximity query served FROM the segment index
    (generalized positional serving plan, phrase_serve.py) — must agree
    exactly with the batch operator's positional SQL oracle."""
    from dawnsearch_spark.operators.phrase_serve import search_near_index

    root = _wand_index_root(spark, sf_dir)
    hits = search_near_index(spark, root, NEAR_A, NEAR_B, NEAR_W, _wand_cfg())
    out = spark.createDataFrame(
        [(int(d), int(p), float(s)) for d, p, s in hits] or [],
        "doc_id long, prox_tf long, score double",
    )
    return out.select("doc_id", "prox_tf", F.round("score", 6).alias("score"))


def q_match_count(spark, sf_dir):
    """Total-hit counts from postings only (Lucene TotalHitCountCollector
    analog): OR and AND cardinalities of the flagship query, zero content
    reads. The oracle recomputes both counts from tokenized text."""
    from dawnsearch_spark.operators.phrase_serve import count_matches_index

    root = _wand_index_root(spark, sf_dir)
    n_or = count_matches_index(spark, root, BM25_QUERY_1, _wand_cfg(), mode="or")
    n_and = count_matches_index(spark, root, BM25_QUERY_1, _wand_cfg(), mode="and")
    return spark.createDataFrame(
        [(int(n_or), int(n_and))], "n_or long, n_and long"
    )


def q_facet_counts(spark, sf_dir):
    """Facet aggregation over the full OR-match set (lang + source),
    single shuffle for any number of facet columns."""
    from dawnsearch_spark.operators.boolquery import facet_counts

    from dawnsearch_spark.functions.tokenizer import tokenize_py

    docs, tf, _dfs, _stats = _pruned_tf_and_stats(
        spark, sf_dir, tokenize_py(FACET_QUERY)
    )
    return facet_counts(docs, tf, FACET_QUERY, ["lang", "source"])


def q_filter_project(spark, sf_dir):
    """F1-F8: ingest-style predicates + projections on events."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("click", "view") & (F.col("value") > 10.0))
        .select(
            "event_id",
            "user_id",
            F.concat_ws(":", "event_type", F.col("user_id").cast("string")).alias("tag"),
            F.round("value", 4).alias("value_r"),
        )
    )


def q_length_gate(spark, sf_dir):
    """F4/F5/F7: length gates + char-truncation projection."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter((F.col("n_chars") >= 200) & (F.length("text") >= 200))
        .select("doc_id", F.substring("text", 1, 120).alias("snippet"))
    )


def q_hydration_join(spark, sf_dir):
    """J1: tiny top-k set broadcast-joined back to the row store."""
    docs = _t(spark, sf_dir, "documents")
    topk = docs.orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(10).select("doc_id")
    return (
        docs.join(F.broadcast(topk), "doc_id")
        .select("doc_id", "lang", "source", "n_chars", F.substring("text", 1, 80).alias("snippet"))
    )


def q_anti_join(spark, sf_dir):
    """J2: anti-join (suppliers with no lineitem)."""
    sup = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    return sup.join(li.select("l_suppkey"), sup.s_suppkey == li.l_suppkey, "left_anti").select(
        "s_suppkey", "s_name"
    )


def q_broadcast_dim_join(spark, sf_dir):
    """Broadcast dim join + integer-exact aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


def q_tpch_q1_like(spark, sf_dir):
    """TPC-H Q1-shaped aggregate (hash agg with partial combine)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_quantity") / F.count(F.lit(1)), 6).alias("avg_qty"),
        )
    )


def q_events_daily(spark, sf_dir):
    """Tumbling daily window aggregate over the events stream table."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_window_rank(spark, sf_dir):
    """§2.7: first event per user (row_number window)."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def q_topk_orders(spark, sf_dir):
    """T1/T5: top-k with deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
    )


def q_fingerprints(spark, sf_dir):
    """Exact-dup fingerprint groups (F11/J2 dedup key)."""
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    return (
        docs.select(normalized_fingerprint("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id"))
    )


def q_text_features(spark, sf_dir):
    """Language-ID heuristic, quality score, token count per doc."""
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        ws_token_count("text").alias("n_tokens"),
        F.round(alpha_ratio("text"), 6).alias("alpha_ratio"),
        F.round(stopword_ratio("text"), 6).alias("stop_ratio"),
        quality_score("text").alias("quality"),
        lang_guess("text").alias("lang_guess"),
    )


def q_rolling_fingerprint(spark, sf_dir):
    """Rabin-Karp rolling-hash document fingerprint (native fold, no UDF)."""
    from dawnsearch_spark.operators.text_analysis import rolling_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_fingerprint("text", 256).alias("rfp"))


def q_ngram_lang(spark, sf_dir):
    """N-gram (character-trigram profile) language-ID heuristic."""
    from dawnsearch_spark.operators.text_analysis import (
        en_trigram_chars,
        ngram_lang_guess,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        en_trigram_chars("text").alias("en_tri_chars"),
        ngram_lang_guess("text").alias("tri_lang"),
    )


def q_jaccard_pairs(spark, sf_dir):
    """N-gram Jaccard near-dup pairs (exact, shared-shingle candidates)."""
    docs = _t(spark, sf_dir, "documents")
    return jaccard_pairs_exact(docs, col="text", threshold=0.12)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING end-to-end (operators/dedup.py
    ``connected_components`` + ``dedup_clusters``): the gate-green
    ``jaccard_pairs`` edge set -> connected components via alternating
    large-star/small-star (Kiveris et al. 2014; two groupBy-min shuffles
    per round, O(log n) rounds even on the chain graphs the capped-bucket
    candidate generators emit) -> per-doc ``cluster_id`` (min doc id of
    the component, singletons map to themselves) and ``is_canonical``
    keeper flag. Filtering ``is_canonical`` is the pipeline-level
    near-dedup: one keeper per duplicate group. The oracle recomputes the
    same pair set and takes its transitive closure with a recursive CTE —
    exact, no tolerance."""
    from dawnsearch_spark.operators.dedup import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs_exact(docs, col="text", threshold=0.12)
    return dedup_clusters(pairs, docs)


def q_cosine_topk(spark, sf_dir):
    """ANN baseline: brute-force cosine top-10 vs the vec_id=0 embedding."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return cosine_topk(
        _par(spark, emb.filter(F.col("vec_id") != 0)),
        [float(x) for x in qvec],
        k=10,
    )


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs above 0.8."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(emb, threshold=0.8)


def q_shingle_count(spark, sf_dir):
    """Shingling sanity: distinct 3-gram shingle count per doc (first 50)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 50)
        .select("doc_id", F.size(word_shingles("text", 3)).alias("n_shingles"))
    )


def q_decontaminate(spark, sf_dir):
    """Training-data decontamination: every 50th doc plays the benchmark
    suite; the rest of the corpus is flagged by distinct shared 3-gram
    shingles (broadcast benchmark shingle set, no corpus shuffle)."""
    from dawnsearch_spark.operators.dedup import benchmark_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return benchmark_contamination(corpus, bench, col="text", n=3)


def q_stream_dedup(spark, sf_dir):
    """ST1 under the driver gate: a REAL Structured Streaming run.
    Three overlapping parquet 'arrival' batches ([0,100), [50,150),
    [100,200)) flow through a file source one file per micro-batch into
    ``streaming_dedup`` (applyInPandasWithState, exactly-first per key —
    the reference's insert-dedup as a streaming operator,
    search_provider.rs:253-263). Duplicate arrivals are byte-identical
    rows, so the surviving set is batch-order independent and the DuckDB
    oracle is a plain DISTINCT range scan: 300 arrivals in, one row per
    doc_id out."""
    import shutil
    import tempfile
    import uuid

    from dawnsearch_spark.streaming.stateful import streaming_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    work = tempfile.mkdtemp(prefix=f"dawnsearch_stream_{uuid.uuid4().hex[:8]}_")
    try:
        src = os.path.join(work, "incoming")
        os.makedirs(src)
        for i, (lo, hi) in enumerate([(0, 100), (50, 150), (100, 200)]):
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1).write.parquet(os.path.join(src, f"batch={i}"))
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        out = os.path.join(work, "out")
        q = (
            streaming_dedup(stream, key_cols=("doc_id",), order_cols=("lang", "n_chars"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # materialize driver-side so the temp dir can be removed
        rows = spark.read.parquet(out).collect()
        return spark.createDataFrame(rows, docs.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (dup-line / dup-word
    ratios) — the classic low-quality-strata filter of a training-data
    pipeline; native array exprs, no shuffle."""
    from dawnsearch_spark.operators.text_analysis import repetition_stats

    return repetition_stats(_par(spark, _t(spark, sf_dir, "documents")), col="text")


def q_quality_filter(spark, sf_dir):
    """Composite Gopher/C4-style pre-training quality gate with per-rule
    flags (token-count window, mean word length, alpha ratio, stopword
    presence, repetition caps) — one codegen'd scan, no UDF; the DuckDB
    twin recomputes every rule from first principles."""
    from dawnsearch_spark.operators.text_analysis import gopher_quality_filter

    docs = _par(spark, _t(spark, sf_dir, "documents"))
    return gopher_quality_filter(docs, col="text")


def q_lang_token_stats(spark, sf_dir):
    """Per-lang token statistics (A3 counters analog)."""
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws_token_count("text")).alias("total_tokens"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


def q_sha_integrity(spark, sf_dir):
    """A4: per-row sha256 integrity fingerprint of the corpus."""
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    return docs.select("doc_id", F.sha2(F.col("text"), 256).alias("content_sha"))


def q_capacity_guard(spark, sf_dir):
    """A2: capacity check (reference: local_space_available, count < 1e6,
    search_provider.rs:164-166)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) < F.lit(1_000_000)).alias("within_capacity"),
    )


def q_dedup_kept(spark, sf_dir):
    """F11/J2: ids surviving exact dedup (keeper = min doc_id per
    normalized fingerprint)."""
    from dawnsearch_spark.operators.dedup import dedup_exact

    docs = _t(spark, sf_dir, "documents")
    return dedup_exact(docs).select("doc_id")


# ---- approx family: the hash/assignment internals are not expressible in
# ANSI SQL (NumPy minhash family, hyperplane signs, centroid matmul), so
# each entry PERSISTS the Spark-computed signature/assignment table to
# parquet and both sides — the returned Spark DataFrame and the DuckDB
# oracle — compute the banding / probe / verification logic from that same
# exported table. The oracle therefore fully checks the candidate-join,
# skew-cap and verification semantics. ----

# Per-user export root (ADVICE r2: a fixed shared path lets concurrent
# runs by different users clobber each other's exported signature tables).
# Deliberately NOT per-process: oracle_sql() must resolve the same path in
# whatever process later runs the DuckDB twin of this run's queries().
_EXPORT_ROOT = os.path.join(
    os.environ.get("TMPDIR", "/tmp"),
    f"dawnsearch_oracle_export_u{os.getuid() if hasattr(os, 'getuid') else 0}",
)
_BAND_BUCKET_CAP = 500


def _export(df: DataFrame, name: str) -> DataFrame:
    path = os.path.join(_EXPORT_ROOT, name)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def q_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup candidates, exact-Jaccard-verified; band rows
    and shingle sets exported for the DuckDB twin."""
    from dawnsearch_spark.operators.dedup import (
        band_candidates,
        minhash_band_rows,
        shingle_sets,
        verified_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    shingled = _export(shingle_sets(docs, "text", "doc_id", 3), "minhash_shingles")
    rows = _export(minhash_band_rows(shingled, bands=8, rows_per_band=8), "minhash_bands")
    cand = band_candidates(rows, max_band_bucket=_BAND_BUCKET_CAP)
    return verified_jaccard_pairs(cand, shingled, threshold=0.5)


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs within Hamming distance 3 (banded blocking);
    the 64-bit signature table is exported for the DuckDB twin."""
    from dawnsearch_spark.operators.dedup import simhash64, simhash_pairs_from

    docs = _t(spark, sf_dir, "documents")
    sim = _export(simhash64(docs), "simhash")
    return simhash_pairs_from(
        sim, max_hamming=3, id_col="doc_id", max_band_bucket=_BAND_BUCKET_CAP
    )


def q_lsh_topk(spark, sf_dir):
    """ANN scale path: hyperplane-LSH bucketed cosine top-k; the bucket
    assignment + query bucket are exported for the DuckDB twin."""
    from dawnsearch_spark.operators.similarity import (
        cosine_topk,
        lsh_assign,
        lsh_query_bucket,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    data = emb.filter(F.col("vec_id") != 0)
    assigned = _export(lsh_assign(data, n_planes=6), "lsh_assign")
    qb = lsh_query_bucket(qvec, n_planes=6)
    _export(spark.createDataFrame([(qb,)], "qbucket long"), "lsh_query")
    sel = data.join(
        F.broadcast(assigned.filter(F.col("bucket") == qb).select("vec_id")),
        "vec_id",
        "left_semi",
    )
    return cosine_topk(sel, qvec, k=10)


def q_ivf_topk(spark, sf_dir):
    """ANN scale path: IVF coarse-quantizer probe search over k-means-
    TRAINED centroids (data-aware cells, VERDICT r2 item 5); the cell
    assignment + probe set are exported for the DuckDB twin, which
    replays the probe-pruned candidate selection + exact cosine."""
    from dawnsearch_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_probe_cells,
        train_ivf_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    data = emb.filter(F.col("vec_id") != 0)
    cents = train_ivf_centroids(data, n_cells=16)
    assigned = _export(ivf_assign(data, n_cells=16, centroids=cents), "ivf_assign")
    probe = ivf_probe_cells(qvec, n_cells=16, nprobe=4, centroids=cents)
    _export(spark.createDataFrame([(c,) for c in probe], "cell int"), "ivf_probe")
    sel = data.join(
        F.broadcast(assigned.filter(F.col("cell").isin(probe)).select("vec_id")),
        "vec_id",
        "left_semi",
    )
    return cosine_topk(sel, qvec, k=10)


def q_pq_topk(spark, sf_dir):
    """Product-quantization ANN under the driver gate: vectors compress
    64 float64 components -> 8 code bytes (m=8 subspaces, 16 centroids
    each), and search runs entirely over CODES with a per-query lookup
    table (ADC). The codes and trained codebooks are exported, so the
    DuckDB twin recomputes EVERY asymmetric distance from first
    principles (normalized query joined against codebook components ->
    per-(subspace, code) LUT -> summed per vector) — the approximation is
    checked exactly, not against recall."""
    from dawnsearch_spark.operators.similarity import (
        pq_adc_topk,
        pq_code_rows,
        pq_codebook_rows,
        pq_encode,
        train_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    data = emb.filter(F.col("vec_id") != 0)
    cb = train_pq_codebooks(data, m=8, ksub=16)
    codes = pq_encode(data, cb)
    _export(pq_code_rows(codes, m=8), "pq_codes")
    _export(pq_codebook_rows(spark, cb), "pq_codebook")
    return pq_adc_topk(codes, qvec, cb, k=10)


def q_ivfpq_topk(spark, sf_dir):
    """IVF×PQ composed ANN under the driver gate — the 100-TB recipe:
    codes partitioned by trained IVF cell, the query probes nprobe cells,
    and ADC scans ONLY those cells' codes (compression AND pruning in one
    path; ``pq_topk`` alone scans all codes, ``ivf_topk`` alone stores
    raw vectors). Cell assignment, probe set, codes, and codebooks are
    all exported, so the DuckDB twin recomputes the probe-restricted
    candidate set AND every asymmetric distance from first principles —
    the composition is checked exactly, not via recall. The materialized
    partition-pruned form of the same path is ``build_ann_index(kind=
    'ivfpq')`` + ``ann_query`` (pytest asserts only probed-cell files are
    read). Reference analog: the bucketed index experiment
    (/root/reference/examples_old/search_bucket.rs:15-90) with i16/i24
    requantized in-bucket vectors (src/search/vector.rs:30-87)."""
    from dawnsearch_spark.operators.similarity import (
        ivf_assign,
        ivf_probe_cells,
        ivfpq_topk,
        pq_code_rows,
        pq_codebook_rows,
        pq_encode,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    data = emb.filter(F.col("vec_id") != 0)
    cents = train_ivf_centroids(data, n_cells=16)
    cb = train_pq_codebooks(data, m=8, ksub=16)
    assigned = _export(ivf_assign(data, n_cells=16, centroids=cents), "ivfpq_assign")
    probe = ivf_probe_cells(qvec, n_cells=16, nprobe=4, centroids=cents)
    _export(spark.createDataFrame([(c,) for c in probe], "cell int"), "ivfpq_probe")
    codes = pq_encode(data, cb).join(assigned, "vec_id")
    _export(pq_code_rows(codes, m=8), "ivfpq_codes")
    _export(pq_codebook_rows(spark, cb), "ivfpq_codebook")
    return ivfpq_topk(codes, qvec, cb, probe, k=10)


def q_media_decode(spark, sf_dir):
    """Real image decode (pure-NumPy 24-bit BMP codec): synthesize one BMP
    per doc with a closed-form pixel pattern, decode it back, and emit
    per-image statistics the DuckDB oracle recomputes from the pattern
    formula — including a corner pixel that is row-order-sensitive, so a
    decoder ignoring BMP's bottom-up layout fails the hash."""
    from dawnsearch_spark.operators.multimodal import (
        decode_image_stats,
        synthesize_bmp_media,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    stats = decode_image_stats(synthesize_bmp_media(docs, width=32, height=16))
    return stats.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "corner_g",
    )


def q_media_decode_png(spark, sf_dir):
    """Compressed-format decode under the driver gate: same closed-form
    pixel pattern as ``media_decode`` but PNG-encoded with PAETH filtering
    (stdlib-zlib inflate + batch-vectorized NumPy unfiltering in the
    decoder — no codec library), checked against the identical
    first-principles oracle."""
    from dawnsearch_spark.operators.multimodal import (
        decode_image_stats,
        synthesize_bmp_media,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    stats = decode_image_stats(
        synthesize_bmp_media(docs, width=32, height=16, codec="png")
    )
    return stats.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "corner_g",
    )


def q_media_decode_jpeg(spark, sf_dir):
    """Baseline-JPEG decode under the driver gate (functions/jpeg.py —
    NumPy DCT + LUT Huffman, 4:2:0 like real camera output; no codec
    library). JPEG is lossy, so the contract is a BOUNDED-ERROR
    reconstruction of the closed-form pixel pattern: the decoder must
    reproduce every pixel within tolerance 4 (measured worst case over
    the fixture set: 2) — the oracle predicts err_ok = 1 for every image
    from first principles, and a broken DCT/Huffman/upsampling stage
    fails the hash."""
    import numpy as np
    import pandas as pd

    from dawnsearch_spark.functions.jpeg import decode_jpeg
    from dawnsearch_spark.operators.multimodal import synthesize_bmp_media

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    media = synthesize_bmp_media(docs, width=32, height=16, codec="jpeg")

    def gen(batches):
        xs = np.arange(32)[None, :]
        ys = np.arange(16)[:, None]
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy("int64")
            errs = []
            for i in range(len(pdf)):
                img = decode_jpeg(bytes(pdf["media"].iloc[i])).astype(np.int64)
                did = int(ids[i])
                exp = np.empty((16, 32, 3), np.int64)
                exp[..., 0] = (did + xs) % 256
                exp[..., 1] = (2 * did + ys) % 256
                exp[..., 2] = (3 * did + xs + ys) % 256
                errs.append(int(np.abs(img - exp).max()))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "width": np.full(len(pdf), 32, np.int32),
                    "height": np.full(len(pdf), 16, np.int32),
                    "err_ok": (np.asarray(errs) <= 4).astype(np.int32),
                }
            )

    return media.mapInPandas(
        gen, "doc_id long, width int, height int, err_ok int"
    )


def q_media_decode_audio(spark, sf_dir):
    """Compressed AUDIO decode under the driver gate (functions/adpcm.py —
    IMA ADPCM, WAV format 0x11, pure NumPy; no codec library): each doc's
    closed-form int16 triangle wave s_j = 8*(|((j*k + id) % 4096) - 2048|
    - 1024), k = id%7+3, n = 1500 + id%101, is ADPCM-compressed 4:1 and
    decoded back. The codec stores every block's FIRST sample verbatim in
    the block header, so the oracle recomputes samples 0 and 505 (block
    boundaries at block_align=256) EXACTLY from the formula; the rest is
    the lossy bounded-error contract like the JPEG gate — tolerance 64
    against a measured worst case of ~24 on the fixture set."""
    import numpy as np
    import pandas as pd

    from dawnsearch_spark.operators.multimodal import (
        decode_audio_stats,
        synthesize_audio_media,
    )
    from dawnsearch_spark.functions.adpcm import decode_ima_adpcm

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    media = synthesize_audio_media(docs)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy("int64")
            rows = {"doc_id": ids, "n_samples": [], "sample_rate": [],
                    "first_sample": [], "sample_505": [], "err_ok": []}
            for i in range(len(pdf)):
                did = int(ids[i])
                dec, rate = decode_ima_adpcm(bytes(pdf["media"].iloc[i]))
                dec = dec.reshape(-1).astype(np.int64)
                k = did % 7 + 3
                j = np.arange(len(dec), dtype=np.int64)
                exp = 8 * (np.abs((j * k + did) % 4096 - 2048) - 1024)
                rows["n_samples"].append(len(dec))
                rows["sample_rate"].append(rate)
                rows["first_sample"].append(int(dec[0]))
                rows["sample_505"].append(int(dec[505]))
                rows["err_ok"].append(int(np.abs(dec - exp).max() <= 64))
            yield pd.DataFrame(rows)

    out = media.mapInPandas(
        gen,
        "doc_id long, n_samples long, sample_rate int, "
        "first_sample int, sample_505 int, err_ok int",
    )
    # the batched stats operator runs under the same gate: its exact
    # columns must agree with the per-payload decode above
    stats = decode_audio_stats(media).select(
        "doc_id",
        F.col("n_samples").alias("n_samples_b"),
        F.col("first_sample").alias("first_sample_b"),
    )
    return (
        out.join(stats, "doc_id")
        .withColumn(
            "err_ok",
            (
                (F.col("err_ok") == 1)
                & (F.col("n_samples_b") == F.col("n_samples"))
                & (F.col("first_sample_b") == F.col("first_sample"))
            ).cast("int"),
        )
        .drop("n_samples_b", "first_sample_b")
    )


def q_media_decode_g711(spark, sf_dir):
    """G.711 μ-law telephony audio under the driver gate
    (functions/g711.py — canonical Sun g711.c formulas, pure NumPy,
    proven bit-exact against a scalar reference over the ENTIRE 16-bit
    input space in tests). Unlike ADPCM/JPEG the quantization is
    STATELESS and closed-form, so the oracle recomputes every decoded
    sample exactly in SQL (segment CASE + integer shifts) — this row is
    hash-exact on full decoded-signal aggregates, with no error
    tolerance anywhere."""
    import numpy as np
    import pandas as pd

    from dawnsearch_spark.functions.g711 import encode_g711_wav
    from dawnsearch_spark.operators.multimodal import decode_wav

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy("int64")
            rows = {"doc_id": ids, "n_samples": [], "sample_rate": [],
                    "sum_dec": [], "min_dec": [], "max_dec": []}
            for did in ids:
                did = int(did)
                k = did % 7 + 3
                n = 1500 + did % 101
                j = np.arange(n, dtype=np.int64)
                s = (8 * (np.abs((j * k + did) % 4096 - 2048) - 1024)).astype(np.int16)
                # encode -> decode through the WAV dispatch layer
                dec, rate = decode_wav(encode_g711_wav(s, 8000, "ulaw"))
                dec = dec.reshape(-1).astype(np.int64)
                rows["n_samples"].append(len(dec))
                rows["sample_rate"].append(rate)
                rows["sum_dec"].append(int(dec.sum()))
                rows["min_dec"].append(int(dec.min()))
                rows["max_dec"].append(int(dec.max()))
            yield pd.DataFrame(rows)

    return docs.select("doc_id").mapInPandas(
        gen,
        "doc_id long, n_samples long, sample_rate int, "
        "sum_dec long, min_dec int, max_dec int",
    )


def q_media_decode_flac(spark, sf_dir):
    """Lossless FLAC audio under the driver gate (functions/flac.py —
    fixed-predictor subset with Rice-coded residuals, pure NumPy, CRC-8 /
    CRC-16 / STREAMINFO-MD5 all enforced; RFC 9639). Each doc's
    closed-form int16 triangle wave s_j = 8*(|((j*k + id) % 4096) - 2048|
    - 1024), k = id%5+2, n = 1600 + id%97, is FLAC-encoded (block 512 ->
    multiple frames + a partial tail frame per payload) and decoded back
    through BOTH the direct codec and the batched ``decode_audio_stats``
    dispatch. FLAC is lossless over integers, so unlike ADPCM/JPEG there
    is no tolerance anywhere: the oracle recomputes every decoded sample
    exactly from the synthesis formula and the row is hash-exact on
    whole-signal aggregates."""
    import numpy as np
    import pandas as pd

    from dawnsearch_spark.functions.flac import decode_flac, encode_flac
    from dawnsearch_spark.operators.multimodal import decode_audio_stats

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)

    def synth(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy("int64")
            payloads = []
            for did in ids:
                did = int(did)
                k = did % 5 + 2
                n = 1600 + did % 97
                j = np.arange(n, dtype=np.int64)
                s = (8 * (np.abs((j * k + did) % 4096 - 2048) - 1024)).astype(
                    np.int16
                )
                payloads.append(encode_flac(s, 16000, block_size=512))
            yield pd.DataFrame(
                {"doc_id": ids, "media": payloads, "media_type": "audio/flac"}
            )

    media = docs.select("doc_id").mapInPandas(
        synth, "doc_id long, media binary, media_type string"
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy("int64")
            rows = {"doc_id": ids, "n_samples": [], "sample_rate": [],
                    "sum_dec": [], "min_dec": [], "max_dec": []}
            for i in range(len(pdf)):
                dec, rate = decode_flac(bytes(pdf["media"].iloc[i]))
                dec = dec.reshape(-1).astype(np.int64)
                rows["n_samples"].append(len(dec))
                rows["sample_rate"].append(rate)
                rows["sum_dec"].append(int(dec.sum()))
                rows["min_dec"].append(int(dec.min()))
                rows["max_dec"].append(int(dec.max()))
            yield pd.DataFrame(rows)

    out = media.mapInPandas(
        gen,
        "doc_id long, n_samples long, sample_rate int, "
        "sum_dec long, min_dec int, max_dec int",
    )
    # the batched dispatch layer must agree exactly (lossless: first and
    # last sample are formula values, no tolerance)
    stats = decode_audio_stats(media).select(
        "doc_id",
        F.col("n_samples").alias("n_b"),
        F.col("first_sample").alias("first_b"),
        F.col("last_sample").alias("last_b"),
    )
    return (
        out.join(stats, "doc_id")
        .withColumn(
            "dispatch_ok",
            ((F.col("n_b") == F.col("n_samples"))).cast("int"),
        )
        .withColumn("first_sample", F.col("first_b"))
        .withColumn("last_sample", F.col("last_b"))
        .drop("n_b", "first_b", "last_b")
    )


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: binary media column -> vectorized per-byte
    features, emitted as scalar columns (driver-hashable) with a DuckDB
    twin over the hex expansion of the same payload bytes. The
    array-valued ``extract_features`` stays the library API."""
    from dawnsearch_spark.operators.multimodal import (
        extract_feature_counts,
        synthesize_media,
    )

    docs = _t(spark, sf_dir, "documents").withColumnRenamed("text", "content")
    media = synthesize_media(docs.filter(F.col("doc_id") < 100))
    return extract_feature_counts(media)


# --------------------------------------------------------------------------


_WAND_CFG = None  # lazy singleton (EngineConfig import is at module top)


def _wand_cfg() -> "EngineConfig":
    """Index config for the driver-table WAND entries: small ranges/blocks
    and a low heavy-df threshold so even the sf0.01 documents table
    exercises heavy (range-split) lists, multi-block rows and multi-range
    merges — the full segment/codec/merge/WAND stack, not a degenerate
    all-light index."""
    global _WAND_CFG
    if _WAND_CFG is None:
        from dataclasses import replace

        _WAND_CFG = replace(
            EngineConfig(),
            range_size=256,
            block_size=32,
            heavy_df_threshold=64,
            num_term_buckets=8,
            build_partitions=8,
        )
    return _WAND_CFG


_IDX_TAGS: dict[str, str] = {}


def _wand_index_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse via manifests — build_index is resumable and
    idempotent) a real segment index over this sf_dir's documents table.

    The cache key fingerprints the DATA (row count + max content sha), not
    just the path (ADVICE r2: regenerated testdata at the same path must
    not serve a stale index against a fresh oracle). One cheap aggregate
    per (process, sf_dir)."""
    import hashlib
    import tempfile

    from dawnsearch_spark.index_build import build_index

    if sf_dir not in _IDX_TAGS:
        agg = (
            _t(spark, sf_dir, "documents")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.sha2(F.col("text"), 256)).alias("s"),
            )
            .collect()[0]
        )
        _IDX_TAGS[sf_dir] = hashlib.md5(
            f"{sf_dir}|{agg['n']}|{agg['s']}".encode()
        ).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), f"dawnsearch_driver_idx_{_IDX_TAGS[sf_dir]}"
    )
    build_index(spark, _docs(spark, sf_dir), root, _wand_cfg(), n_groups=2)
    return root


def _wand_topk(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """T2/T4/S4/S6/S7/X8 end-to-end: tokenize -> posting runs ->
    varbyte block-max segments -> k-way merge -> block-max WAND top-k.
    Driver-verified against the same exact-BM25 SQL oracle as the
    full-scan scorer (reference oracle pattern:
    /root/reference/examples_old/search.rs:44-72)."""
    from dawnsearch_spark.operators.wand import search_index

    root = _wand_index_root(spark, sf_dir)
    hits = search_index(root, query, _wand_cfg())
    out = spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits] or [], "doc_id long, score double"
    )
    return out.select("doc_id", F.round("score", 6).alias("score"))


def q_wand_phrase(spark, sf_dir):
    """Phrase search served FROM the segment index (phrase_serve.py):
    candidate docs from posting-list intersection, adjacency verified on
    the candidate rows of the forward index only, PhraseQuery-style BM25.
    Answers the SAME positional-adjacency SQL oracle as the batch
    operator — index serving and corpus recomputation must agree
    exactly."""
    from dawnsearch_spark.operators.phrase_serve import search_phrase_index

    root = _wand_index_root(spark, sf_dir)
    hits = search_phrase_index(spark, root, PHRASE_QUERY, _wand_cfg())
    out = spark.createDataFrame(
        [(int(d), int(p), float(s)) for d, p, s in hits] or [],
        "doc_id long, phrase_tf long, score double",
    )
    return out.select("doc_id", "phrase_tf", F.round("score", 6).alias("score"))


def q_wand_topk_1(spark, sf_dir):
    return _wand_topk(spark, sf_dir, BM25_QUERY_1)


def q_wand_topk_2(spark, sf_dir):
    return _wand_topk(spark, sf_dir, BM25_QUERY_2)


def q_wand_topk_dist(spark, sf_dir):
    """T4 under the driver gate with the block-max walk forced: a tiny
    max_driver_postings budget keeps the query off the driver path and
    overflows the light lists, so the walk visits range rows AND
    block-span views of light rows (θ pruning, per-block decode) —
    against the same exact-BM25 oracle. The sf0.1/sf0.01 indexes always
    fit the driver path, so only this entry reaches the walk."""
    from dataclasses import replace as _replace

    from dawnsearch_spark.operators.wand import search_index

    root = _wand_index_root(spark, sf_dir)
    cfg = _replace(_wand_cfg(), max_driver_postings=64)
    hits = search_index(root, BM25_QUERY_2, cfg)
    out = spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits] or [], "doc_id long, score double"
    )
    return out.select("doc_id", F.round("score", 6).alias("score"))


def q_stream_sessionize(spark, sf_dir):
    """Stateful STREAMING sessionization under the driver gate: the
    events table arrives as two time-ordered micro-batches, flows through
    ``streaming_sessions`` (30-min session_window gap, 2h watermark,
    append-mode emission when the watermark closes a session), terminates
    with availableNow. Arrival in time order means nothing is
    late-dropped; sessions ending within 4h of the global max timestamp
    are filtered from BOTH sides (final watermark sits 2h back + 30min
    gap, so near-boundary sessions may not have closed). The oracle is
    the SAME gaps-and-islands SQL as batch ``sessionize`` with the
    cutoff applied — one contract, batch and streaming."""
    import datetime as _dt
    import glob as _glob
    import shutil
    import tempfile
    import uuid

    from dawnsearch_spark.streaming.stateful import streaming_sessions

    events = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "value",
    )
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        mn, mx = events.agg(F.min("ts"), F.max("ts")).collect()[0]
        split = mn + (mx - mn) / 2
        work = tempfile.mkdtemp(prefix=f"dawnsearch_sses_{uuid.uuid4().hex[:8]}_")
        try:
            src = os.path.join(work, "incoming")
            os.makedirs(src)
            for i, pred in enumerate(
                [F.col("ts") <= F.lit(split), F.col("ts") > F.lit(split)]
            ):
                events.filter(pred).coalesce(1).write.parquet(
                    os.path.join(src, f"batch={i}")
                )
            for i in (0, 1):
                for f in _glob.glob(os.path.join(src, f"batch={i}", "*")):
                    os.utime(f, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
            stream = (
                spark.readStream.schema(events.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src + "/*")
            )
            out = os.path.join(work, "out")
            q = (
                streaming_sessions(
                    stream, ts_col="ts", gap="30 minutes", watermark="2 hours",
                    group_cols=("user_id",), value_col="value",
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            rows = spark.read.parquet(out).collect()
        finally:
            shutil.rmtree(work, ignore_errors=True)
        cutoff = mx - _dt.timedelta(hours=4)
        got = spark.createDataFrame(
            [
                (
                    int(r["user_id"]),
                    r["session_start"],
                    r["session_end"],
                    int(r["n_events"]),
                    float(r["sum_value"]),
                )
                for r in rows
                if r["_last_ts"] <= cutoff
            ]
            or [],
            "user_id long, session_start string, session_end string, "
            "n_events long, sum_value double",
        )
        return got
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def q_stream_window_counts(spark, sf_dir):
    """ST2/windows under the driver gate: a REAL Structured Streaming run
    of watermarked tumbling event-time windows (the reference's
    deadline-gather made exact, udp_service.rs:300-341). The events table
    arrives as two TIME-ORDERED parquet batches (one per micro-batch, file
    mtimes pinned so the source order is deterministic), flows through
    ``windowed_event_counts`` (1h tumbling windows, 2h watermark,
    append-mode emission on window close), and the run terminates with
    availableNow. Arrival in time order means nothing is late-dropped, so
    every emitted window carries its FULL batch-SQL count; windows within
    3h of the global max timestamp are filtered from BOTH sides (the
    final watermark sits 2h back, so near-boundary windows may or may not
    have closed — excluding them makes the comparison independent of the
    engine's boundary convention)."""
    import shutil
    import tempfile
    import uuid

    from dawnsearch_spark.streaming.stateful import windowed_event_counts

    # Pin the session timezone to UTC for the whole run: the NTZ->TIMESTAMP
    # cast interprets wall-clock in the session zone and Spark aligns
    # tumbling windows to the epoch, so under a non-whole-hour offset
    # (e.g. +05:30) window boundaries would shift 30 minutes away from the
    # oracle's date_trunc('hour') on the NTZ wall-clock.
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        return _stream_window_counts_utc(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def _stream_window_counts_utc(spark, sf_dir):
    import shutil
    import tempfile
    import uuid

    from dawnsearch_spark.streaming.stateful import windowed_event_counts

    # watermarks require TIMESTAMP (the table stores TIMESTAMP_NTZ); the
    # output window_start is cast back to NTZ so the oracle schema matches
    events = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    mn, mx = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    split = mn + (mx - mn) / 2
    work = tempfile.mkdtemp(prefix=f"dawnsearch_swin_{uuid.uuid4().hex[:8]}_")
    try:
        src = os.path.join(work, "incoming")
        os.makedirs(src)
        for i, pred in enumerate(
            [F.col("ts") <= F.lit(split), F.col("ts") > F.lit(split)]
        ):
            events.filter(pred).coalesce(1).write.parquet(
                os.path.join(src, f"batch={i}")
            )
        # pin modification times so the file source replays batch 0 first
        # (equal mtimes would make arrival order — and thus lateness —
        # nondeterministic)
        import glob as _glob

        for i in (0, 1):
            for f in _glob.glob(os.path.join(src, f"batch={i}", "*")):
                os.utime(f, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        out = os.path.join(work, "out")
        q = (
            windowed_event_counts(
                stream, ts_col="ts", window="1 hour", watermark="2 hours",
                group_cols=("event_type",), value_col="value",
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows = spark.read.parquet(out).collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    import datetime as _dt

    cutoff = mx - _dt.timedelta(hours=3)
    got = spark.createDataFrame(
        [
            (r["window_start"], r["event_type"], int(r["n"]), float(r["sum_value"]))
            for r in rows
            if r["window_end"] <= cutoff
        ] or [],
        "window_start timestamp_ntz, event_type string, n long, sum_value double",
    )
    return got


def q_wand_delete_purge(spark, sf_dir):
    """Index-lifecycle DELETE under the driver gate (S5's inverse; the
    reference is insert-only with a capacity cap,
    /root/reference/src/search/search_provider.rs:164-166 — delete is the
    lifecycle step its row store never finished): build a real segment
    index, tombstone-delete every doc_id ≡ 3 (mod 7), PURGE (one
    tombstone-filtered merge of all generations sourced from the index's
    own segment rows + forward-index rewrite + dictionary/stats rebuild),
    and serve top-10 WAND. Post-purge scores must be EXACTLY a
    from-scratch BM25 over the survivors — N, avgdl, df all shift — so
    the oracle is the standard exact-BM25 SQL restricted to
    ``doc_id % 7 <> 3``. docIDs keep their original values (the ID space
    just has holes), so the hash match covers ids AND scores."""
    import tempfile

    from dawnsearch_spark.index_build import build_index
    from dawnsearch_spark.manifest import read_manifest
    from dawnsearch_spark.plans.query import Engine
    from dawnsearch_spark.streaming.incremental import (
        delete_documents,
        purge_deletes,
    )

    _wand_index_root(spark, sf_dir)  # ensures _IDX_TAGS[sf_dir] is set
    root = os.path.join(
        tempfile.gettempdir(), f"dawnsearch_driver_idx_{_IDX_TAGS[sf_dir]}_del"
    )
    build_index(spark, _docs(spark, sf_dir), root, _wand_cfg(), n_groups=2)
    m = read_manifest(root, "documents") or {}
    if not m.get("purged"):  # idempotent across gate invocations
        ids = [
            r["doc_id"]
            for r in _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 7 == 3)
            .select("doc_id")
            .collect()
        ]
        delete_documents(spark, root, _wand_cfg(), doc_ids=ids)
        purge_deletes(spark, root, _wand_cfg())
    hits = Engine(spark, root, _wand_cfg()).search(BM25_QUERY_2)
    out = spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits] or [], "doc_id long, score double"
    )
    return out.select("doc_id", F.round("score", 6).alias("score"))


UPSERT_QUERY = "window shuffle refreshed"
UPSERT_MARKER = "refreshed revision notes"


def q_wand_upsert(spark, sf_dir):
    """Index-lifecycle UPSERT under the driver gate (reference analog:
    URL-dedup-before-insert, /root/reference/src/search/search_provider.rs:253-263,
    generalized from drop-duplicate to atomic replace-by-key): build a
    real segment index over an engine-shaped view of the documents table
    (repo='r0', path=zero-padded doc_id, commit='c0' — internal docIDs
    equal the table's dense doc_ids), then re-ingest every doc_id ≡ 4
    (mod 9) at a NEW commit with a marker suffix via ``upsert_documents``
    (staging-masked append + one tombstone-swap cutover), and serve
    top-10 WAND for a query that matches the marker. Old versions are
    tombstoned (Lucene deleted-docs staleness: they still count in
    N/avgdl/df until purge), new versions carry docIDs N + rank.

    Oracle: exact BM25 over the PATCHED corpus (replaced docs carry the
    marker text) with stats over the FULL old+new row set — old versions
    excluded from scoring but included in N/avgdl/df, exactly what the
    masked index serves — ordered by the engine's internal-id tie-break
    (survivors: doc_id; new versions: N + rank). Output ids are the
    ORIGINAL doc_ids (recovered from the path column), so the hash match
    covers identity AND scores."""
    import tempfile

    from dawnsearch_spark.index_build import build_index
    from dawnsearch_spark.manifest import read_manifest
    from dawnsearch_spark.plans.query import Engine
    from dawnsearch_spark.streaming.incremental import upsert_documents

    _wand_index_root(spark, sf_dir)  # ensures _IDX_TAGS[sf_dir] is set
    root = os.path.join(
        tempfile.gettempdir(), f"dawnsearch_driver_idx_{_IDX_TAGS[sf_dir]}_ups"
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.lit("r0").alias("repo"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("path"),
        F.lit("c0").alias("commit"),
        "lang",
        "content",
    )
    build_index(spark, docs, root, _wand_cfg(), n_groups=2)
    if not (read_manifest(root, "upsert") or {}):  # idempotent across calls
        batch = docs.filter(F.col("doc_id") % 9 == 4).select(
            "repo", "path", F.lit("c1").alias("commit"), "lang",
            F.concat(F.col("content"), F.lit(" " + UPSERT_MARKER)).alias(
                "content"
            ),
        )
        upsert_documents(
            spark, root, batch, _wand_cfg(), match_cols=("repo", "path")
        )
    hits = Engine(spark, root, _wand_cfg()).search(UPSERT_QUERY)
    topk = spark.createDataFrame(
        [(i, int(d), float(s)) for i, (d, s) in enumerate(hits)] or [],
        "rank long, doc_id long, score double",
    )
    fwd = spark.read.parquet(os.path.join(root, "documents")).select(
        "doc_id", F.col("path").cast("long").alias("orig_id")
    )
    return (
        fwd.join(F.broadcast(topk), "doc_id")
        .orderBy("rank")
        .select(F.col("orig_id").alias("doc_id"), F.round("score", 6).alias("score"))
    )


def _upsert_sql(k: int = 10) -> str:
    """Exact-BM25 twin of the post-upsert masked index: scoring corpus =
    survivors + marker-patched new versions; stats corpus additionally
    keeps the masked old versions (N doubles-counted exactly as the
    staleness contract says); tie-break = the engine's internal id
    (new versions sort at N + rank(doc_id))."""
    terms_in = ", ".join(f"'{t}'" for t in UPSERT_QUERY.split())
    toks = _tok_sql("text")
    return f"""
WITH vic AS (
  SELECT doc_id,
         (SELECT count(*) FROM documents) - 1
           + row_number() OVER (ORDER BY doc_id) AS eid
  FROM documents WHERE doc_id % 9 = 4
),
-- visible corpus: survivors as-is, victims replaced by marker-patched v2
vis AS (
  SELECT d.doc_id,
         CASE WHEN v.doc_id IS NOT NULL
              THEN d.text || ' {UPSERT_MARKER}' ELSE d.text END AS text,
         coalesce(v.eid, d.doc_id) AS eid
  FROM documents d LEFT JOIN vic v USING (doc_id)
),
-- stats corpus: visible rows PLUS the masked old versions
stat_dl AS (
  SELECT len({toks})::DOUBLE AS dl FROM vis AS documents
  UNION ALL
  SELECT len({toks})::DOUBLE AS dl
  FROM (SELECT text FROM documents WHERE doc_id % 9 = 4) AS documents
),
st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM stat_dl),
dl AS (SELECT doc_id, len({toks})::DOUBLE AS dl FROM vis AS documents),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({toks}) AS term FROM vis AS documents)
  WHERE term IN ({terms_in})
  GROUP BY doc_id, term
),
-- df over the full row set: visible + masked old versions (stale by
-- contract — tombstones mask serving, not the dictionary)
tf_old AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({toks}) AS term
        FROM (SELECT doc_id, text FROM documents WHERE doc_id % 9 = 4)
             AS documents)
  WHERE term IN ({terms_in})
  GROUP BY doc_id, term
),
dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM (
    SELECT term, doc_id FROM tf
    UNION ALL SELECT term, doc_id + 1000000000 FROM tf_old
  ) GROUP BY term
),
sc AS (
  SELECT tf.doc_id,
         sum( ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
              * tf.tf * ({CFG.k1} + 1.0)
              / (tf.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / st.avgdl)) ) AS s
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY tf.doc_id
)
SELECT sc.doc_id, round(sc.s, 6) AS score
FROM sc JOIN vis USING (doc_id)
ORDER BY sc.s DESC, vis.eid LIMIT {k}
"""


def q_more_like(spark, sf_dir):
    """E2 lifecycle under the driver gate (reference: MoreLikeSearch —
    stored page -> its embedding -> re-enter search,
    /root/reference/src/search/search_service.rs:105-124): fetch doc 7's
    stored content from the forward index, take its top-5 TF terms as a
    WEIGHTED query bag (qtf = term count, tie-break term asc), and answer
    through the real segment/WAND engine. Oracle: the same weighted BM25
    recomputed from first principles in DuckDB."""
    from dawnsearch_spark.plans.query import Engine

    root = _wand_index_root(spark, sf_dir)
    hits = Engine(spark, root, _wand_cfg()).more_like(7, top_m=5)
    out = spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits] or [], "doc_id long, score double"
    )
    return out.select("doc_id", F.round("score", 6).alias("score"))


def _more_like_sql(src_doc: int = 7, top_m: int = 5, k: int = 10) -> str:
    toks = _tok_sql("text")
    return f"""
WITH toks AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
bag AS (
  SELECT term, count(*)::DOUBLE AS qtf FROM toks WHERE doc_id = {src_doc}
  GROUP BY term ORDER BY qtf DESC, term LIMIT {top_m}
),
dl AS (SELECT doc_id, len({toks})::DOUBLE AS dl FROM documents),
st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT t.doc_id, t.term, count(*)::DOUBLE AS tf
  FROM toks t JOIN bag USING (term)
  GROUP BY t.doc_id, t.term
),
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id,
         sum( bag.qtf * ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
              * tf.tf * ({CFG.k1} + 1.0)
              / (tf.tf + {CFG.k1} * (1.0 - {CFG.b} + {CFG.b} * dl.dl / st.avgdl)) ) AS s
  FROM tf JOIN bag USING (term) JOIN dfq USING (term)
       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 6) AS score FROM sc ORDER BY s DESC, doc_id LIMIT {k}
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 over sf0.001 documents, hydrated (E1)."""
    sf_dir = "/root/testdata/sf0.001"
    top = _bm25_spark(spark, sf_dir, BM25_QUERY_1)
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.join(F.broadcast(top), "doc_id")
        .select("doc_id", "score", "lang", "source", F.substring("text", 1, 200).alias("snippet"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "doclen_stats": q_doclen_stats,
        "term_tf": q_term_tf,
        "doc_freq": q_doc_freq,
        "bm25_topk_1": q_bm25_topk_1,
        "phrase_topk": q_phrase_topk,
        "wand_phrase": q_wand_phrase,
        "bool_topk": q_bool_topk,
        "prefix_topk": q_prefix_topk,
        "wand_prefix": q_wand_prefix,
        "near_topk": q_near_topk,
        "wand_near": q_wand_near,
        "match_count": q_match_count,
        "fuzzy_topk": q_fuzzy_topk,
        "regex_topk": q_regex_topk,
        "wand_regex": q_wand_regex,
        "wildcard_topk": q_wildcard_topk,
        "suggest_terms": q_suggest_terms,
        "wand_suggest": q_wand_suggest,
        "grouped_topk": q_grouped_topk,
        "wand_grouped": q_wand_grouped,
        "synonym_topk": q_synonym_topk,
        "sessionize": q_sessionize,
        "stream_sessionize": q_stream_sessionize,
        "asof_join": q_asof_join,
        "dataset_split": q_dataset_split,
        "curation_pipeline": q_curation_pipeline,
        "event_rollup": q_event_rollup,
        "value_quantiles": q_value_quantiles,
        "profile_columns": q_profile_columns,
        "spellcheck": q_spellcheck,
        "wand_spellcheck": q_wand_spellcheck,
        "wand_fuzzy": q_wand_fuzzy,
        "wand_explain": q_wand_explain,
        "facet_counts": q_facet_counts,
        "bm25_topk_2": q_bm25_topk_2,
        "snippets": q_snippets,
        "bm25f_topk": q_bm25f_topk,
        "boost_topk": q_boost_topk,
        "wand_boost": q_wand_boost,
        "wand_topk_1": q_wand_topk_1,
        "wand_topk_2": q_wand_topk_2,
        "wand_topk_dist": q_wand_topk_dist,
        "wand_delete_purge": q_wand_delete_purge,
        "wand_upsert": q_wand_upsert,
        "stream_window_counts": q_stream_window_counts,
        "more_like": q_more_like,
        "filter_project": q_filter_project,
        "length_gate": q_length_gate,
        "hydration_join": q_hydration_join,
        "anti_join": q_anti_join,
        "broadcast_dim_join": q_broadcast_dim_join,
        "tpch_q1_like": q_tpch_q1_like,
        "events_daily": q_events_daily,
        "window_rank": q_window_rank,
        "topk_orders": q_topk_orders,
        "fingerprints": q_fingerprints,
        "text_features": q_text_features,
        "rolling_fingerprint": q_rolling_fingerprint,
        "ngram_lang": q_ngram_lang,
        "jaccard_pairs": q_jaccard_pairs,
        "dedup_clusters": q_dedup_clusters,
        "cosine_topk": q_cosine_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "shingle_count": q_shingle_count,
        "decontaminate": q_decontaminate,
        "stream_dedup": q_stream_dedup,
        "repetition": q_repetition,
        "quality_filter": q_quality_filter,
        "lang_token_stats": q_lang_token_stats,
        "sha_integrity": q_sha_integrity,
        "capacity_guard": q_capacity_guard,
        "dedup_kept": q_dedup_kept,
        # approx family: oracle works over the exported signature/
        # assignment parquet the query fn writes (see _minhash_sql etc.)
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "media_features": q_media_features,
        "media_decode": q_media_decode,
        "media_decode_png": q_media_decode_png,
        "media_decode_jpeg": q_media_decode_jpeg,
        "media_decode_audio": q_media_decode_audio,
        "media_decode_g711": q_media_decode_g711,
        "media_decode_flac": q_media_decode_flac,
        "pq_topk": q_pq_topk,
    }


def _ngram_sql() -> str:
    from dawnsearch_spark.operators.text_analysis import EN_TRIGRAMS

    terms = " + ".join(
        f"(length(s) - length(replace(s, '{g}', '')))" for g in EN_TRIGRAMS
    )
    return f"""
        WITH b AS (SELECT doc_id, lower(text) AS s FROM documents)
        SELECT doc_id, ({terms})::BIGINT AS en_tri_chars,
               CASE WHEN ({terms}) >= 15 THEN 'en' ELSE 'other' END AS tri_lang
        FROM b
    """


def _minhash_sql() -> str:
    """Banding + skew cap + exact-Jaccard verification over the exported
    band-row/shingle tables (q_minhash_pairs writes them first)."""
    br = f"{_EXPORT_ROOT}/minhash_bands/*.parquet"
    sh = f"{_EXPORT_ROOT}/minhash_shingles/*.parquet"
    return f"""
        WITH br AS (SELECT * FROM read_parquet('{br}')),
        cnt AS (SELECT band, bhash, count(*) AS c FROM br GROUP BY band, bhash),
        r AS (SELECT br.* FROM br JOIN cnt USING (band, bhash) WHERE c <= {_BAND_BUCKET_CAP}),
        big AS (SELECT br.*, row_number() OVER (PARTITION BY band, bhash ORDER BY _id) AS rn
                FROM br JOIN cnt USING (band, bhash) WHERE c > {_BAND_BUCKET_CAP}),
        cand AS (SELECT DISTINCT id_a, id_b FROM (
                   SELECT a._id AS id_a, b._id AS id_b
                   FROM r a JOIN r b USING (band, bhash) WHERE a._id < b._id
                   UNION ALL
                   SELECT a._id, b._id FROM big a JOIN big b
                     ON a.band = b.band AND a.bhash = b.bhash AND b.rn = a.rn + 1
                   UNION ALL
                   SELECT a._id, b._id FROM big a JOIN big b
                     ON a.band = b.band AND a.bhash = b.bhash AND b.rn = a.rn + 2)),
        sh AS (SELECT * FROM read_parquet('{sh}')),
        sc AS (SELECT id_a, id_b,
                 round(len(list_intersect(sa._sh, sb._sh))::DOUBLE
                       / len(list_distinct(sa._sh || sb._sh)), 6) AS jaccard
               FROM cand
               JOIN sh sa ON sa._id = cand.id_a
               JOIN sh sb ON sb._id = cand.id_b)
        SELECT id_a, id_b, jaccard FROM sc WHERE jaccard >= 0.5
    """


def _simhash_sql(max_hamming: int = 3) -> str:
    """Band blocking + Hamming verification over the exported signature
    table, band spans identical to ``simhash_bands(max_hamming)``."""
    from dawnsearch_spark.operators.dedup import simhash_bands

    spans = simhash_bands(max_hamming)
    unions = "\n              UNION ALL ".join(
        f"SELECT doc_id AS _id, simhash, {b} AS band, "
        f"((simhash >> {off}) & {(1 << w) - 1}) AS bkey FROM s"
        for b, (off, w) in enumerate(spans)
    )
    return f"""
        WITH s AS (SELECT * FROM read_parquet('{_EXPORT_ROOT}/simhash/*.parquet')),
        b AS ({unions}),
        cnt AS (SELECT band, bkey, count(*) AS c FROM b GROUP BY band, bkey),
        r AS (SELECT b.* FROM b JOIN cnt USING (band, bkey) WHERE c <= {_BAND_BUCKET_CAP}),
        big AS (SELECT b.*, row_number() OVER (PARTITION BY band, bkey ORDER BY _id) AS rn
                FROM b JOIN cnt USING (band, bkey) WHERE c > {_BAND_BUCKET_CAP}),
        cand AS (SELECT DISTINCT id_a, id_b, ha, hb FROM (
                   SELECT a._id AS id_a, bb._id AS id_b,
                          a.simhash AS ha, bb.simhash AS hb
                   FROM r a JOIN r bb USING (band, bkey) WHERE a._id < bb._id
                   UNION ALL
                   SELECT a._id, bb._id, a.simhash, bb.simhash
                   FROM big a JOIN big bb
                     ON a.band = bb.band AND a.bkey = bb.bkey AND bb.rn = a.rn + 1
                   UNION ALL
                   SELECT a._id, bb._id, a.simhash, bb.simhash
                   FROM big a JOIN big bb
                     ON a.band = bb.band AND a.bkey = bb.bkey AND bb.rn = a.rn + 2))
        SELECT id_a, id_b, bit_count(xor(ha, hb))::INT AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
    """


def _ann_export_sql(sel_sql: str) -> str:
    """Cosine top-10 over the export-selected candidate ids (float64
    sequential folds — identical to the Spark cosine evaluation)."""
    return f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        sel AS ({sel_sql}),
        sc AS (SELECT e.vec_id, {_cos_sql('e.embedding', 'qv')} AS c
               FROM embeddings e JOIN sel USING (vec_id) CROSS JOIN q
               WHERE e.vec_id <> 0)
        SELECT vec_id, round(c, 6) AS cos FROM sc ORDER BY c DESC, vec_id LIMIT 10
    """


def _media_sql() -> str:
    """DuckDB twin of extract_feature_counts: high-nibble byte histogram of
    the UTF-8 payload, recovered from the hex expansion — the char at each
    odd position of hex(blob) IS the high nibble of that byte."""
    digits = "0123456789ABCDEF"
    cols = ",\n                   ".join(
        f"(length(hn) - length(replace(hn, '{d}', '')))::BIGINT AS c{k}"
        for k, d in enumerate(digits)
    )
    return f"""
            WITH b AS (
              SELECT doc_id,
                     regexp_replace(hex(encode(substring(text, 1, 4096))),
                                    '(.).', '\\1', 'g') AS hn,
                     octet_length(encode(substring(text, 1, 4096)))::BIGINT AS n_bytes
              FROM documents WHERE doc_id < 100)
            SELECT doc_id, n_bytes,
                   {cols}
            FROM b
        """


def oracle_sql() -> dict[str, str]:
    toks = _tok_sql("text")
    ws = _WS_TOKS.format(col="text")
    stop_in = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    out = {
        "doclen_stats": f"""
            WITH dl AS (SELECT len({toks})::BIGINT AS dl FROM documents)
            SELECT count(*) AS n_docs, sum(dl)::BIGINT AS total_tokens,
                   round(avg(dl), 6) AS avgdl FROM dl
        """,
        "term_tf": f"""
            SELECT term, doc_id, count(*)::BIGINT AS tf
            FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
            WHERE term LIKE 's%' GROUP BY term, doc_id
        """,
        "doc_freq": f"""
            WITH tf AS (
              SELECT doc_id, term, count(*)::BIGINT AS tf
              FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
              GROUP BY doc_id, term)
            SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY term
        """,
        "bm25_topk_1": _bm25_sql(BM25_QUERY_1.split()),
        "phrase_topk": _phrase_sql(PHRASE_QUERY.split()),
        "wand_phrase": _phrase_sql(PHRASE_QUERY.split()),
        "bool_topk": _bool_sql(BOOL_MUST, BOOL_SHOULD, BOOL_MUST_NOT),
        "prefix_topk": _prefix_sql(PREFIX_QUERY),
        "wand_prefix": _prefix_sql(PREFIX_QUERY),
        "near_topk": _near_sql(NEAR_A, NEAR_B, NEAR_W),
        "wand_near": _near_sql(NEAR_A, NEAR_B, NEAR_W),
        "match_count": f"""
            WITH tf AS (
              SELECT doc_id, term
              FROM (SELECT doc_id, unnest({_tok_sql("text")}) AS term FROM documents)
              WHERE term IN ({", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY_1.split())))})
              GROUP BY doc_id, term)
            SELECT count(DISTINCT doc_id)::BIGINT AS n_or,
                   (SELECT count(*) FROM (
                      SELECT doc_id FROM tf GROUP BY doc_id
                      HAVING count(*) = {len(set(BM25_QUERY_1.split()))}))::BIGINT AS n_and
            FROM tf
        """,
        "fuzzy_topk": _fuzzy_sql(FUZZY_QUERY),
        "wand_fuzzy": _fuzzy_sql(FUZZY_QUERY),
        "regex_topk": _regex_sql(REGEX_QUERY),
        "wand_regex": _regex_sql(REGEX_QUERY),
        "wildcard_topk": _regex_sql(_wildcard_to_regex(WILDCARD_QUERY)),
        "suggest_terms": _suggest_sql(SUGGEST_PREFIX),
        "wand_suggest": _suggest_sql(SUGGEST_PREFIX),
        "spellcheck": _spellcheck_sql(SPELL_QUERY),
        "wand_spellcheck": _spellcheck_sql(SPELL_QUERY),
        "grouped_topk": _grouped_sql(BM25_QUERY_1.split(), "lang"),
        "wand_grouped": _grouped_sql(BM25_QUERY_1.split(), "lang"),
        "synonym_topk": _synonym_sql(SYNONYM_GROUP),
        # gaps-and-islands twin of session_window: a session breaks when
        # the gap since the previous event reaches 30 minutes
        "sessionize": """
            WITH g AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                  FROM g)
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                   count(*)::BIGINT AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM s GROUP BY user_id, sid
        """,
        # the SAME gaps-and-islands contract, restricted to sessions the
        # streaming watermark has provably closed (4h cutoff)
        "stream_sessionize": """
            WITH g AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                  FROM g),
            agg AS (
              SELECT user_id,
                     strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                     strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                     count(*)::BIGINT AS n_events,
                     round(sum(value), 6) AS sum_value,
                     max(ts) AS last_ts
              FROM s GROUP BY user_id, sid)
            SELECT user_id, session_start, session_end, n_events, sum_value
            FROM agg
            WHERE last_ts <= (SELECT max(ts) - INTERVAL 4 HOUR FROM events)
        """,
        # the composed curation pipeline: every stage is a gate-green
        # operator's SQL twin chained into one statement
        "curation_pipeline": f"""
            WITH RECURSIVE qbase AS (
              SELECT doc_id, text,
                     {ws} AS words,
                     list_filter(list_transform(str_split(text, chr(10)),
                                                l -> trim(l)), l -> l <> '') AS lines
              FROM documents),
            feat AS (
              SELECT doc_id, text,
                     len(words)::BIGINT AS n_tokens,
                     CASE WHEN len(words) = 0 THEN 0.0
                          ELSE list_aggregate(list_transform(words, w -> length(w)),
                                              'sum')::DOUBLE / len(words) END AS mwl,
                     CASE WHEN length(text) = 0 THEN 0.0
                          ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                               / length(text) END AS ar,
                     len(list_filter(words, x -> x IN ({stop_in})))::BIGINT AS stop_hits,
                     CASE WHEN len(lines) = 0 THEN 0.0
                          ELSE (len(lines) - len(list_distinct(lines)))::DOUBLE
                               / len(lines) END AS dlr,
                     CASE WHEN len(words) = 0 THEN 0.0
                          ELSE (len(words) - len(list_distinct(words)))::DOUBLE
                               / len(words) END AS dwr
              FROM qbase),
            kq AS (
              SELECT doc_id, text FROM feat
              WHERE n_tokens BETWEEN 20 AND 100000 AND mwl >= 2.0 AND mwl <= 12.0
                AND ar >= 0.25 AND stop_hits >= 2 AND dlr <= 0.30 AND dwr <= 0.60),
            ke AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text, row_number() OVER (
                  PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                  ORDER BY doc_id) AS rn
                FROM kq) WHERE rn = 1),
            sh AS (
              SELECT doc_id, list_sort(list_distinct(
                       list_transform(range(1, len({ws}) - 1),
                         i -> {ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2])
                     )) AS s
              FROM ke AS documents WHERE len({ws}) >= 3),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.s, b.s))::DOUBLE
                    / len(list_distinct(a.s || b.s)) >= 0.12),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            walk(node, reach) AS (
              SELECT a, b FROM edges
              UNION
              SELECT walk.node, edges.b
              FROM walk JOIN edges ON walk.reach = edges.a),
            comp AS (
              SELECT node, least(node, min(reach)) AS cluster_id
              FROM walk GROUP BY node),
            keep AS (
              SELECT ke.doc_id, ke.text
              FROM ke LEFT JOIN comp c ON ke.doc_id = c.node
              WHERE coalesce(c.cluster_id, ke.doc_id) = ke.doc_id),
            sp AS (
              SELECT doc_id, text,
                     ('0x' || substr(md5(doc_id::VARCHAR || '|split-v1'), 1, 8))::BIGINT
                       % 10000 AS bucket
              FROM keep)
            SELECT CASE WHEN bucket < 8000 THEN 'train'
                        WHEN bucket < 9000 THEN 'val'
                        ELSE 'test' END AS split,
                   count(*)::BIGINT AS n_docs,
                   sum(len({_tok_sql("text")}))::BIGINT AS total_tokens
            FROM sp GROUP BY 1
        """,
        "event_rollup": """
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(strftime(ts, '%Y-%m-%d'), 'ALL') AS day,
                   count(*)::BIGINT AS n,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))
        """,
        "value_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        "profile_columns": """
            SELECT 'lang' AS col_name, count(*)::BIGINT AS n,
                   sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls,
                   count(DISTINCT lang)::BIGINT AS n_distinct,
                   min(lang) AS min_v, max(lang) AS max_v
            FROM documents
            UNION ALL
            SELECT 'source', count(*)::BIGINT,
                   sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT,
                   count(DISTINCT source)::BIGINT,
                   min(source), max(source)
            FROM documents
        """,
        # every bucket/label recomputed from the same md5 formula
        "dataset_split": """
            WITH b AS (
              SELECT doc_id,
                     ('0x' || substr(md5(doc_id::VARCHAR || '|split-v1'), 1, 8))::BIGINT
                       % 10000 AS bucket
              FROM documents)
            SELECT doc_id, bucket,
                   CASE WHEN bucket < 8000 THEN 'train'
                        WHEN bucket < 9000 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
        """,
        # DuckDB's NATIVE ASOF JOIN as an independent implementation of
        # the same backward-inclusive contract
        "asof_join": """
            WITH clicks AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
            purch AS (
              SELECT user_id, ts, value AS purchase_value
              FROM events WHERE event_type = 'purchase')
            SELECT c.event_id, c.user_id,
                   strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
                   p.purchase_value
            FROM clicks c
            ASOF LEFT JOIN purch p
              ON c.user_id = p.user_id AND p.ts <= c.ts
        """,
        "wand_explain": _explain_sql(BM25_QUERY_1.split()),
        "facet_counts": _facet_sql(FACET_QUERY.split(), ["lang", "source"]),
        "bm25_topk_2": _bm25_sql(BM25_QUERY_2.split()),
        "snippets": _snippet_sql(BM25_QUERY_1.split(), w=SNIPPET_WINDOW),
        "bm25f_topk": _bm25f_sql(BM25_QUERY_1.split()),
        "boost_topk": _boost_sql(BOOST_QUERY),
        "wand_boost": _boost_sql(BOOST_QUERY),
        # the WAND index path answers against the SAME exact-BM25 oracle:
        # rank identity of the segment engine is what the BASELINE metric
        # demands (docIDs AND scores).
        "wand_topk_1": _bm25_sql(BM25_QUERY_1.split()),
        "wand_topk_2": _bm25_sql(BM25_QUERY_2.split()),
        "wand_topk_dist": _bm25_sql(BM25_QUERY_2.split()),
        # post-purge serving must equal exact BM25 over the SURVIVORS
        # (N, avgdl, df recomputed without the deleted docs)
        "wand_delete_purge": _bm25_sql(
            BM25_QUERY_2.split(), where="doc_id % 7 <> 3"
        ),
        # post-upsert serving: replaced docs score with their NEW content,
        # stats keep the masked old versions (deleted-docs staleness)
        "wand_upsert": _upsert_sql(),
        "more_like": _more_like_sql(),
        "media_features": _media_sql(),
        # decoded-image statistics recomputed from the synthesis formula:
        # R=(id+x)%256, G=(2id+y)%256, B=(3id+x+y)%256 on a 32x16 canvas;
        # the _png twin decodes the SAME pattern from zlib-compressed PNGs,
        # so one oracle serves both (assigned after this dict literal)
        "media_decode": """
            SELECT doc_id, 32 AS width, 16 AS height,
                   round(list_aggregate(list_transform(range(0, 32),
                         x -> (doc_id + x) % 256), 'avg'), 6) AS mean_r,
                   round(list_aggregate(list_transform(range(0, 16),
                         y -> (2 * doc_id + y) % 256), 'avg'), 6) AS mean_g,
                   round(list_aggregate(list_transform(range(0, 512),
                         j -> (3 * doc_id + (j % 32) + (j // 32)) % 256), 'avg'), 6) AS mean_b,
                   ((2 * doc_id) % 256)::INT AS corner_g
            FROM documents WHERE doc_id < 50
        """,
        "rolling_fingerprint": """
            SELECT doc_id,
                   list_reduce(list_prepend(0::BIGINT,
                     list_transform(range(1, length(substring(text, 1, 256)) + 1),
                       i -> unicode(substring(text, i, 1))::BIGINT)),
                     (acc, c) -> (acc * 31 + c) % 2147483647)::BIGINT AS rfp
            FROM documents
        """,
        "ngram_lang": _ngram_sql(),
        "minhash_pairs": _minhash_sql(),
        "simhash_pairs": _simhash_sql(3),
        "lsh_topk": _ann_export_sql(
            f"""SELECT vec_id FROM read_parquet('{_EXPORT_ROOT}/lsh_assign/*.parquet')
                WHERE bucket = (SELECT qbucket
                                FROM read_parquet('{_EXPORT_ROOT}/lsh_query/*.parquet'))"""
        ),
        "ivf_topk": _ann_export_sql(
            f"""SELECT vec_id FROM read_parquet('{_EXPORT_ROOT}/ivf_assign/*.parquet')
                WHERE cell IN (SELECT cell
                               FROM read_parquet('{_EXPORT_ROOT}/ivf_probe/*.parquet'))"""
        ),
        # PQ/ADC: recompute every asymmetric distance from the exported
        # codes + codebooks and the normalized query — the compressed
        # index's math checked exactly (dsub = 8: d = j*8 + cb.d)
        "pq_topk": f"""
            WITH qn AS (
              SELECT list_transform(embedding,
                       x -> x / sqrt(list_aggregate(
                              list_transform(embedding, y -> y * y), 'sum')))
                     AS v
              FROM embeddings WHERE vec_id = 0
            ),
            q AS (
              SELECT d.d AS d, qn.v[d.d + 1] AS val
              FROM qn, (SELECT unnest(range(0, 64)) AS d) d
            ),
            lut AS (
              SELECT cb.j, cb.code,
                     sum((cb.val - q.val) * (cb.val - q.val)) AS dist
              FROM read_parquet('{_EXPORT_ROOT}/pq_codebook/*.parquet') cb
              JOIN q ON q.d = cb.j * 8 + cb.d
              GROUP BY cb.j, cb.code
            ),
            adc AS (
              SELECT c.vec_id, sum(l.dist) AS s
              FROM read_parquet('{_EXPORT_ROOT}/pq_codes/*.parquet') c
              JOIN lut l ON c.j = l.j AND c.code = l.code
              GROUP BY c.vec_id
            )
            SELECT vec_id, round(s, 6) AS adc FROM adc
            ORDER BY s, vec_id LIMIT 10
        """,
        # IVF×PQ: same first-principles ADC recomputation as pq_topk, but
        # the candidate set is restricted to vectors whose trained IVF
        # cell is in the exported probe set — DuckDB re-derives BOTH the
        # pruning and the compressed-distance math
        "ivfpq_topk": f"""
            WITH qn AS (
              SELECT list_transform(embedding,
                       x -> x / sqrt(list_aggregate(
                              list_transform(embedding, y -> y * y), 'sum')))
                     AS v
              FROM embeddings WHERE vec_id = 0
            ),
            q AS (
              SELECT d.d AS d, qn.v[d.d + 1] AS val
              FROM qn, (SELECT unnest(range(0, 64)) AS d) d
            ),
            lut AS (
              SELECT cb.j, cb.code,
                     sum((cb.val - q.val) * (cb.val - q.val)) AS dist
              FROM read_parquet('{_EXPORT_ROOT}/ivfpq_codebook/*.parquet') cb
              JOIN q ON q.d = cb.j * 8 + cb.d
              GROUP BY cb.j, cb.code
            ),
            probed AS (
              SELECT vec_id
              FROM read_parquet('{_EXPORT_ROOT}/ivfpq_assign/*.parquet')
              WHERE cell IN (SELECT cell
                             FROM read_parquet('{_EXPORT_ROOT}/ivfpq_probe/*.parquet'))
            ),
            adc AS (
              SELECT c.vec_id, sum(l.dist) AS s
              FROM read_parquet('{_EXPORT_ROOT}/ivfpq_codes/*.parquet') c
              JOIN probed p ON p.vec_id = c.vec_id
              JOIN lut l ON c.j = l.j AND c.code = l.code
              GROUP BY c.vec_id
            )
            SELECT vec_id, round(s, 6) AS adc FROM adc
            ORDER BY s, vec_id LIMIT 10
        """,
        "filter_project": """
            SELECT event_id, user_id,
                   event_type || ':' || user_id::VARCHAR AS tag,
                   round(value, 4) AS value_r
            FROM events
            WHERE event_type IN ('click', 'view') AND value > 10.0
        """,
        "length_gate": """
            SELECT doc_id, substring(text, 1, 120) AS snippet
            FROM documents WHERE n_chars >= 200 AND length(text) >= 200
        """,
        "hydration_join": """
            WITH topk AS (SELECT doc_id FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10)
            SELECT d.doc_id, d.lang, d.source, d.n_chars,
                   substring(d.text, 1, 80) AS snippet
            FROM documents d JOIN topk USING (doc_id)
        """,
        "anti_join": """
            SELECT s_suppkey, s_name FROM supplier
            WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem)
        """,
        "broadcast_dim_join": """
            SELECT p_brand, count(*)::BIGINT AS n_items,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "tpch_q1_like": """
            SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS count_order,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_quantity) / count(*), 6) AS avg_qty
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "events_daily": """
            SELECT date_trunc('day', ts) AS day, event_type,
                   count(*)::BIGINT AS n,
                   count(DISTINCT user_id)::BIGINT AS users,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "window_rank": """
            SELECT user_id, event_id, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn = 1
        """,
        "topk_orders": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "fingerprints": """
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
                   count(*)::BIGINT AS n_dups, min(doc_id) AS keep_id
            FROM documents GROUP BY 1
        """,
        "text_features": f"""
            WITH base AS (
              SELECT doc_id, text,
                     len({ws})::BIGINT AS n_tokens,
                     CASE WHEN length(text) = 0 THEN 0.0
                          ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                               / length(text) END AS ar,
                     len(list_filter({ws}, x -> x IN ({stop_in})))::BIGINT AS stop_hits
              FROM documents),
            feat AS (
              SELECT doc_id, n_tokens, ar,
                     CASE WHEN n_tokens = 0 THEN 0.0
                          ELSE stop_hits::DOUBLE / n_tokens END AS sr
              FROM base)
            SELECT doc_id, n_tokens, round(ar, 6) AS alpha_ratio,
                   round(sr, 6) AS stop_ratio,
                   round(0.7 * ar + 0.3 * least(1.0, sr * 5.0), 6) AS quality,
                   CASE WHEN sr >= 0.05 THEN 'en' ELSE 'other' END AS lang_guess
            FROM feat
        """,
        "repetition": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(list_transform(str_split(text, chr(10)),
                                                l -> trim(l)), l -> l <> '') AS lines,
                     list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                 w -> w <> '') AS words
              FROM documents)
            SELECT doc_id,
                   len(lines)::BIGINT AS n_lines,
                   round(CASE WHEN len(lines) = 0 THEN 0.0
                         ELSE (len(lines) - len(list_distinct(lines)))::DOUBLE
                              / len(lines) END, 6) AS dup_line_ratio,
                   len(words)::BIGINT AS n_words,
                   round(CASE WHEN len(words) = 0 THEN 0.0
                         ELSE (len(words) - len(list_distinct(words)))::DOUBLE
                              / len(words) END, 6) AS dup_word_ratio
            FROM base
        """,
        "quality_filter": f"""
            WITH base AS (
              SELECT doc_id, text,
                     {ws} AS words,
                     list_filter(list_transform(str_split(text, chr(10)),
                                                l -> trim(l)), l -> l <> '') AS lines
              FROM documents),
            feat AS (
              SELECT doc_id,
                     len(words)::BIGINT AS n_tokens,
                     CASE WHEN len(words) = 0 THEN 0.0
                          ELSE list_aggregate(list_transform(words, w -> length(w)),
                                              'sum')::DOUBLE / len(words) END AS mwl,
                     CASE WHEN length(text) = 0 THEN 0.0
                          ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                               / length(text) END AS ar,
                     len(list_filter(words, x -> x IN ({stop_in})))::BIGINT AS stop_hits,
                     CASE WHEN len(lines) = 0 THEN 0.0
                          ELSE (len(lines) - len(list_distinct(lines)))::DOUBLE
                               / len(lines) END AS dlr,
                     CASE WHEN len(words) = 0 THEN 0.0
                          ELSE (len(words) - len(list_distinct(words)))::DOUBLE
                               / len(words) END AS dwr
              FROM base)
            SELECT doc_id, n_tokens, round(mwl, 6) AS mean_word_len,
                   (n_tokens BETWEEN 20 AND 100000)::INT AS ok_len,
                   (mwl >= 2.0 AND mwl <= 12.0)::INT AS ok_word_len,
                   (ar >= 0.25)::INT AS ok_alpha,
                   (stop_hits >= 2)::INT AS ok_stop,
                   (dlr <= 0.30 AND dwr <= 0.60)::INT AS ok_rep,
                   (n_tokens BETWEEN 20 AND 100000 AND mwl >= 2.0 AND mwl <= 12.0
                    AND ar >= 0.25 AND stop_hits >= 2
                    AND dlr <= 0.30 AND dwr <= 0.60)::INT AS keep
            FROM feat
        """,
        # the streaming run's duplicate arrivals are byte-identical rows,
        # so exactly-first-per-key == DISTINCT over the arrival range
        "stream_dedup": """
            SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 200
        """,
        # time-ordered arrival => no late drops, so every emitted window
        # carries its full batch count; windows within 3h of max(ts) are
        # excluded on BOTH sides (watermark boundary convention)
        "stream_window_counts": """
            WITH mx AS (SELECT max(ts) AS m FROM events),
            w AS (
              SELECT date_trunc('hour', ts) AS window_start, event_type,
                     count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
              FROM events GROUP BY 1, 2
            )
            SELECT window_start, event_type, n, sum_value
            FROM w, mx
            WHERE window_start + INTERVAL 1 HOUR <= m - INTERVAL 3 HOUR
        """,
        "decontaminate": f"""
            WITH sh AS (
              SELECT doc_id, list_sort(list_distinct(
                       list_transform(range(1, len({ws}) - 1),
                         i -> {ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2])
                     )) AS s
              FROM documents WHERE len({ws}) >= 3),
            bench AS (
              SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 50 = 0),
            corpus AS (
              SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id % 50 <> 0),
            hits AS (
              SELECT c.doc_id, count(*)::BIGINT AS overlap_shingles
              FROM corpus c JOIN bench USING (shingle) GROUP BY c.doc_id)
            SELECT d.doc_id,
                   coalesce(h.overlap_shingles, 0)::BIGINT AS overlap_shingles,
                   (coalesce(h.overlap_shingles, 0) >= 1)::INT AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
            LEFT JOIN hits h USING (doc_id)
        """,
        "jaccard_pairs": f"""
            WITH sh AS (
              SELECT doc_id, list_sort(list_distinct(
                       list_transform(range(1, len({ws}) - 1),
                         i -> {ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2])
                     )) AS s
              FROM documents WHERE len({ws}) >= 3)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.s, b.s))::DOUBLE
                         / len(list_distinct(a.s || b.s)), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.s, b.s))::DOUBLE
                  / len(list_distinct(a.s || b.s)) >= 0.12
        """,
        # same pair set, then connected components as a recursive-CTE
        # transitive closure (exact twin of the alternating
        # large-star/small-star Spark path)
        "dedup_clusters": f"""
            WITH RECURSIVE sh AS (
              SELECT doc_id, list_sort(list_distinct(
                       list_transform(range(1, len({ws}) - 1),
                         i -> {ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2])
                     )) AS s
              FROM documents WHERE len({ws}) >= 3),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.s, b.s))::DOUBLE
                    / len(list_distinct(a.s || b.s)) >= 0.12),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            walk(node, reach) AS (
              SELECT a, b FROM edges
              UNION
              SELECT walk.node, edges.b
              FROM walk JOIN edges ON walk.reach = edges.a),
            comp AS (
              SELECT node, least(node, min(reach)) AS cluster_id
              FROM walk GROUP BY node)
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                   d.doc_id = coalesce(c.cluster_id, d.doc_id) AS is_canonical
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        """,
        # cosine written out in float64 with sequential folds so it is
        # bit-identical to the Spark zip_with/aggregate evaluation
        # (DuckDB's list_cosine_similarity computes in float32).
        "cosine_topk": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            sc AS (
              SELECT vec_id, {_cos_sql('embedding', 'qv')} AS c
              FROM embeddings, q WHERE vec_id <> 0)
            SELECT vec_id, round(c, 6) AS cos FROM sc
            ORDER BY c DESC, vec_id LIMIT 10
        """,
        "embedding_near_dups": f"""
            WITH sc AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     {_cos_sql('a.embedding', 'b.embedding')} AS c
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, round(c, 6) AS cos FROM sc WHERE c >= 0.8
        """,
        "shingle_count": f"""
            SELECT doc_id,
                   CASE WHEN len({ws}) < 3 THEN 0
                        ELSE len(list_distinct(
                          list_transform(range(1, len({ws}) - 1),
                            i -> {ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2])))
                   END::INT AS n_shingles
            FROM documents WHERE doc_id < 50
        """,
        "lang_token_stats": f"""
            SELECT lang, count(*)::BIGINT AS n_docs,
                   sum(len({ws}))::BIGINT AS total_tokens,
                   round(avg(n_chars), 6) AS avg_chars
            FROM documents GROUP BY lang
        """,
        "sha_integrity": """
            SELECT doc_id, sha256(text) AS content_sha FROM documents
        """,
        "capacity_guard": """
            SELECT count(*) AS n_docs, count(*) < 1000000 AS within_capacity
            FROM documents
        """,
        "dedup_kept": """
            SELECT doc_id FROM (
              SELECT doc_id, row_number() OVER (
                PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                ORDER BY doc_id) AS rn
              FROM documents) WHERE rn = 1
        """,
    }
    # the PNG variant decodes the same closed-form pattern, so the BMP
    # oracle is its oracle too
    out["media_decode_png"] = out["media_decode"]
    # lossy-format contract: bounded-error reconstruction of the pattern
    out["media_decode_jpeg"] = """
        SELECT doc_id, 32 AS width, 16 AS height, 1 AS err_ok
        FROM documents WHERE doc_id < 50
    """
    # ADPCM audio: sample count + rate are exact metadata; samples 0 and
    # 505 sit on block boundaries, which the codec stores VERBATIM in the
    # block headers, so the oracle recomputes them exactly from the
    # synthesis formula s_j = 8*(|((j*k + id) % 4096) - 2048| - 1024);
    # the in-between samples are the lossy bounded-error contract
    out["media_decode_audio"] = """
        SELECT doc_id,
               (1500 + doc_id % 101)::BIGINT AS n_samples,
               16000 AS sample_rate,
               (8 * (abs((doc_id % 4096) - 2048) - 1024))::INT AS first_sample,
               (8 * (abs((505 * (doc_id % 7 + 3) + doc_id) % 4096 - 2048) - 1024))::INT
                   AS sample_505,
               1 AS err_ok
        FROM documents WHERE doc_id < 50
    """
    # G.711 μ-law: decode(encode(s)) is a pure integer function (clip +
    # bias, segment, mantissa, re-expand — Sun g711.c), so every decoded
    # sample is recomputed exactly in SQL — no tolerance anywhere
    out["media_decode_g711"] = """
        WITH s AS (
          SELECT doc_id, unnest(range(0, 1500 + doc_id % 101)) AS j
          FROM documents WHERE doc_id < 50
        ), v AS (
          SELECT doc_id,
                 8 * (abs((j * (doc_id % 7 + 3) + doc_id) % 4096 - 2048) - 1024) AS pcm
          FROM s
        ), m AS (
          SELECT doc_id, pcm, least(abs(pcm), 32635) + 132 AS mag0 FROM v
        ), e AS (
          SELECT doc_id, pcm, mag0,
                 CASE WHEN mag0 <= 255 THEN 0 WHEN mag0 <= 511 THEN 1
                      WHEN mag0 <= 1023 THEN 2 WHEN mag0 <= 2047 THEN 3
                      WHEN mag0 <= 4095 THEN 4 WHEN mag0 <= 8191 THEN 5
                      WHEN mag0 <= 16383 THEN 6 ELSE 7 END AS ex
          FROM m
        ), dec AS (
          SELECT doc_id,
                 (CASE WHEN pcm < 0 THEN -1 ELSE 1 END)
                 * (((((mag0 >> (ex + 3)) & 15) * 8 + 132) * (1 << ex)) - 132)
                   AS dv
          FROM e
        )
        SELECT doc_id, count(*)::BIGINT AS n_samples, 8000 AS sample_rate,
               sum(dv)::BIGINT AS sum_dec, min(dv)::INT AS min_dec,
               max(dv)::INT AS max_dec
        FROM dec GROUP BY doc_id
    """
    # FLAC is lossless: every decoded sample IS the synthesis formula, so
    # the oracle aggregates the formula directly — strongest possible
    # contract (no companding map, no tolerance, no stored-verbatim
    # subset: the whole signal round-trips bit-exactly)
    out["media_decode_flac"] = """
        WITH s AS (
          SELECT doc_id, unnest(range(0, 1600 + doc_id % 97)) AS j
          FROM documents WHERE doc_id < 50
        ), v AS (
          SELECT doc_id, j,
                 8 * (abs((j * (doc_id % 5 + 2) + doc_id) % 4096 - 2048) - 1024) AS pcm
          FROM s
        )
        SELECT doc_id, count(*)::BIGINT AS n_samples, 16000 AS sample_rate,
               sum(pcm)::BIGINT AS sum_dec, min(pcm)::INT AS min_dec,
               max(pcm)::INT AS max_dec, 1 AS dispatch_ok,
               (8 * (abs((doc_id % 4096) - 2048) - 1024))::INT AS first_sample,
               max(CASE WHEN j = 1599 + doc_id % 97 THEN pcm END)::INT AS last_sample
        FROM v GROUP BY doc_id
    """
    return out
