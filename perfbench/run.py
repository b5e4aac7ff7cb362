"""Engine benchmark: one seeded workload, one JSON result line.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 6 --trace 0

Workloads and metrics are declared in BENCHMARK.json; README.md beside
this file says why each workload exists. With ``--trace 0`` the result
holds every end-to-end metric, with ``--trace 1`` every per-layer metric.
The last stdout line is the result; an earlier line carries drift
diagnostics. The exit code is 0 only when every correctness check and
workload self-check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(root, "dawnsearch_spark", "__init__.py")):
        print("perfbench: run from a checkout root that holds dawnsearch_spark/", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # everything the run writes stays under the checkout
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the short launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "DAWNSEARCH_DRIVER_MEM": "2g",
    })
    sys.path.insert(1, root)

    import lifecycle

    try:
        r = lifecycle.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        if r.tracer is not None:
            traces = os.path.join(root, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            r.tracer.write(os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = r.layer if args.trace else r.e2e
    missing = [m["name"] for m in declared if m["name"] not in measured]
    if missing:
        raise RuntimeError(f"metrics declared but not measured: {missing}")
    import pyarrow
    import pyspark

    diag = {
        **r.diag,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "problems": r.problems,
    }
    print(json.dumps({"diagnostics": diag}, default=str))
    for p in r.problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    correct = not r.problems
    print(json.dumps({
        "correct": correct,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {
            m["name"]: {"value": float(measured[m["name"]]), "unit": m["unit"]} for m in declared
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
