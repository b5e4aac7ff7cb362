"""spark-submit entry: build (or resume) an index, then run sanity queries.

Usage:
  spark-submit --py-files dawnsearch_spark.zip scripts/build_index.py \
      --docs /path/to/documents_parquet --out /path/to/index \
      [--synthetic N] [--groups 8] [--master local[32]] \
      [--append] [--delete-ids 1,2,3] [--purge]

Lifecycle flags compose: --append treats --docs/--synthetic as a NEW
batch appended onto the existing index at --out; --delete-ids tombstones
docIDs; --purge physically removes tombstoned docs (one filtered merge +
forward rewrite + dictionary/stats rebuild).

(BASELINE.json: "launched via spark-submit --py-files"; packaging helper:
  cd /root/repo && zip -r /tmp/dawnsearch_spark.zip dawnsearch_spark)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

try:  # on a cluster the package arrives via --py-files (zip on sys.path)
    import dawnsearch_spark  # noqa: F401
except ImportError:  # local dev convenience: resolve from the repo checkout
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dawnsearch_spark.config import EngineConfig, load_config
from dawnsearch_spark.corpus import REFERENCE_QUERIES, generate_corpus
from dawnsearch_spark.plans.query import Engine
from dawnsearch_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--docs",
        help="documents source: Iceberg table (catalog id or table path) or "
        "parquet dir, columns (repo,path,commit,lang,content)",
    )
    ap.add_argument(
        "--format",
        default="auto",
        choices=["auto", "iceberg", "parquet"],
        help="source format (auto detects an Iceberg table layout)",
    )
    ap.add_argument("--snapshot-id", type=int, default=None, help="Iceberg snapshot to pin")
    ap.add_argument("--synthetic", type=int, default=0, help="generate N synthetic docs instead")
    ap.add_argument(
        "--synthetic-start", type=int, default=0,
        help="first synthetic doc ordinal (use with --append so a new "
        "batch carries new identity keys instead of deduping to zero)",
    )
    ap.add_argument("--out", required=True)
    ap.add_argument("--groups", type=int, default=8)
    ap.add_argument("--master", default=None)
    ap.add_argument("--config", default=None, help="TOML config path")
    ap.add_argument("--queries", type=int, default=5, help="sanity queries to run after build")
    ap.add_argument(
        "--append", action="store_true",
        help="treat the source as a NEW batch appended to the existing index",
    )
    ap.add_argument(
        "--delete-ids", default=None,
        help="comma-separated docIDs to tombstone-delete from the index",
    )
    ap.add_argument(
        "--purge", action="store_true",
        help="physically remove tombstoned docs (filtered merge + rewrite)",
    )
    args = ap.parse_args()

    cfg = load_config(args.config) if args.config else EngineConfig()
    spark = get_spark("dawnsearch-build", master=args.master)
    docs = None
    if args.synthetic:
        docs = generate_corpus(spark, args.synthetic, start=args.synthetic_start)
    elif args.docs:
        from dawnsearch_spark.sources import read_documents

        docs = read_documents(
            spark, args.docs, format=args.format, snapshot_id=args.snapshot_id
        )

    t0 = time.time()
    if args.append:
        from dawnsearch_spark.streaming.incremental import append_documents

        if docs is None:
            ap.error("--append needs --docs or --synthetic")
        counters = append_documents(spark, args.out, docs, cfg, log=print)
        engine = Engine(spark, args.out, cfg)
        print(json.dumps({"append_sec": round(time.time() - t0, 2),
                          "appended": counters.get("appended")}))
    elif docs is not None:
        engine = Engine.build(spark, docs, args.out, cfg, n_groups=args.groups, log=print)
        build_s = time.time() - t0
        n = engine.stats_.n_docs
        print(json.dumps({"build_sec": round(build_s, 2), "docs": n,
                          "docs_per_sec": round(n / build_s, 1)}))
    else:
        engine = Engine(spark, args.out, cfg)  # lifecycle-only invocation

    if args.delete_ids:
        ids = [int(x) for x in args.delete_ids.split(",") if x.strip()]
        print(json.dumps({"delete": engine.delete(doc_ids=ids)}))
    if args.purge:
        t0 = time.time()
        out = engine.purge()
        out["purge_sec"] = round(time.time() - t0, 2)
        print(json.dumps({"purge": out}))

    for qid in list(REFERENCE_QUERIES)[: args.queries]:
        q = REFERENCE_QUERIES[qid]
        t0 = time.time()
        hits = engine.search(q)
        print(f"q{qid:02d} {q!r}: {len(hits)} hits in {time.time() - t0:.3f}s; top={hits[:3]}")
    spark.stop()


if __name__ == "__main__":
    main()
