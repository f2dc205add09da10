#!/usr/bin/env python
"""Isolated per-query measurement harness (optimization rounds).

Usage:
    python tools/qbench.py NAME [NAME ...] [--runs N] [--explain DIR]
    python tools/qbench.py --explain-only plans/r14 NAME ...

Times each named query in THIS fresh session with the noop sink
(guide §1.4: eagerly computes every column, no optimizer pruning of the
timed subtree, no sink cost), after bench.py's own warm-up
(``bench.warm``: q1 + full-width Arrow worker pool). Jobs are labelled
with ``setJobDescription`` (guide §1.5). Optionally writes
``<dir>/<name>_{before,after}.txt`` with ``explain('formatted')`` output.

This is a measurement tool, not part of the declared bench contract;
bench.py remains the driver's artifact.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain", default=None, help="dir for <name>_<tag>.txt")
    ap.add_argument("--tag", default="before", choices=["before", "after"])
    ap.add_argument("--no-time", action="store_true", help="explain only")
    args = ap.parse_args()

    from batch_public_spark.plans import QUERIES
    from batch_public_spark.session import get_spark
    from bench import warm

    spark = get_spark("qbench")
    if not args.no_time:
        warm(spark)

    for name in args.names:
        spec = QUERIES[name]
        if args.explain:
            df = spec.fn(spark, SF_DIR)
            out = Path(args.explain) / f"{name}_{args.tag}.txt"
            out.parent.mkdir(parents=True, exist_ok=True)
            out.write_text(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        if args.no_time:
            print(f"{name}: explain written")
            continue
        runs = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"qbench:{name}#{i}")
            t0 = time.perf_counter()
            spec.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: " + " ".join(f"{r:.3f}" for r in runs) + f"  min={min(runs):.3f}")


if __name__ == "__main__":
    main()
