"""Physical-plan audits: the properties that keep queries fast at 100 TB
must be visible in the executed plan, not just hoped for — pushed filters
reach the parquet scan, partition pruning fires on partitioned layouts,
small sides broadcast, aggregates keep their map-side partial phase, and
the hot relational path stays inside whole-stage codegen."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_reach_the_scan(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.filter(F.col("n_chars") >= 200).select("doc_id", "n_chars")
    plan = _plan(q)
    assert "PushedFilters" in plan and "n_chars" in plan.split("PushedFilters")[1][:200]
    # column pruning: the scan reads 2 columns, not the text payload
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "text" not in read_schema


def test_doc_freq_keeps_partial_aggregation(spark):
    from dawnsearch_spark.operators.tf import document_frequencies, term_frequencies

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumnRenamed(
        "text", "content"
    )
    plan = _plan(document_frequencies(term_frequencies(docs)))
    # partial (map-side) + final hash aggregate around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_broadcast_join_for_small_dimension(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    q = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).groupBy(
        "p_brand"
    ).count()
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_relational_path_stays_in_codegen(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    q.collect()  # AQE finalizes (and codegen-wraps) the plan at execution
    plan = _plan(q)
    # codegen spans print as "*(n)" stage markers in the final plan — the
    # filter+partial-agg pipeline must sit inside one
    import re

    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan[:400]
    assert re.search(r"\*\(\d+\) Filter", plan), plan[:400]


def test_events_window_single_shuffle(spark):
    """row_number over (user_id) must shuffle once on user_id, not sort
    globally (no single-partition Exchange)."""
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    w = W.partitionBy("user_id").orderBy("ts")
    q = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    plan = _plan(q)
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan


def test_contamination_broadcasts_benchmark_not_corpus(spark):
    from dawnsearch_spark.operators.dedup import benchmark_contamination

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    plan = _plan(benchmark_contamination(corpus, bench))
    # the benchmark shingle set broadcasts; the corpus is never exchanged
    # for the probe join
    assert "BroadcastHashJoin" in plan and "BroadcastExchange" in plan


def test_term_meta_columnar_memory_bound(spark, small_corpus, cfg, tmp_path):
    """VERDICT r3 #3: the driver term dictionary must be columnar with a
    measurable footprint far below the dict-of-dicts layout it replaced
    (~300+ B/row of CPython overhead). Bound: <= 120 B/row including the
    unique-term string payloads, and lookups must agree with a raw scan."""
    from dawnsearch_spark.index_build import build_index, read_segments
    from dawnsearch_spark.plans.query import Engine, TermMeta

    d = str(tmp_path / "idx")
    build_index(spark, small_corpus, d, cfg, n_groups=2)
    e = Engine(spark, d, cfg)
    meta = e._meta_by_term
    assert isinstance(meta, TermMeta)
    n_rows = len(meta)
    assert n_rows > 0
    assert meta.nbytes <= 120 * n_rows, (meta.nbytes, n_rows)
    # lookups agree with a full scan of the segments relation
    seg = read_segments(spark, d).select("term", "range_id", "n_docs").collect()
    by_term = {}
    for r in seg:
        by_term.setdefault(r["term"], set()).add((int(r["range_id"]), int(r["n_docs"])))
    assert len(seg) == n_rows
    import random

    rng = random.Random(5)
    for t in rng.sample(sorted(by_term), 25):
        got = {(m["range_id"], m["n_docs"]) for m in meta.get(t)}
        assert got == by_term[t], t
    assert meta.get("zz-not-a-term") == ()
