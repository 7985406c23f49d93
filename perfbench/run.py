"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository.  Prints, as its last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  See perfbench/README.md for the workloads
and the definition of every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("crawl_durable_recrawl", "corpus_frontier")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "gocrawler_spark", "__init__.py")):
        print("perfbench: run from the root of a repository checkout "
              "(gocrawler_spark/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # the program comes from this checkout only, in the driver and in
    # the Python workers Spark starts
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from common import Tracer, build_spark, stop_spark

    cpus = max(1, min(4, len(os.sched_getaffinity(0))))  # N <= nproc
    spark = build_spark(work, cpus)
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.workload == "crawl_durable_recrawl":
            import crawl as wl
        else:
            import batch as wl
        res = wl.run(spark, args.seed, args.seconds, tracer, work, T_START)
        if args.trace:
            tracer.write(os.path.join(ROOT, ".perfbench_work", "spans",
                                      f"{args.workload}-{tracer.run_id}.json"))
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for note in res["notes"]:
        print(f"perfbench: check failed: {note}", file=sys.stderr)
    if args.trace:
        values = dict(res["layers"])
        values["trace.overhead_s"] = tracer.overhead_s
        values["trace.wall_s"] = res["timed_wall_s"]
        wanted = spec["per_layer"]
    else:
        values = res["e2e"]
        wanted = spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
