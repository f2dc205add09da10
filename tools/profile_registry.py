#!/usr/bin/env python
"""Measurement-only: split every registry query's time into fn()-build vs
action, in one warm session with bench.py's protocol (sorted sweep,
``bench.warm``). Writes JSON to --out (default /tmp/profile_registry.json).

Not part of the declared bench contract; bench.py remains the artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/profile_registry.json")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    from batch_public_spark.plans import QUERIES
    from batch_public_spark.session import get_spark
    from bench import warm

    spark = get_spark("profile_registry")
    warm(spark)
    sc = spark.sparkContext

    names = args.only or sorted(QUERIES)
    rows = {}
    for name in names:
        fn_times, act_times, jobs = [], [], []
        for i in range(args.reps):
            sc.setJobDescription(f"profile:{name}#{i}")
            t0 = time.perf_counter()
            df = QUERIES[name].fn(spark, SF_DIR)
            t1 = time.perf_counter()
            df.count()
            t2 = time.perf_counter()
            fn_times.append(t1 - t0)
            act_times.append(t2 - t1)
        sc.setJobDescription(None)
        rows[name] = {
            "fn": round(min(fn_times), 4),
            "act": round(min(act_times), 4),
            "fn_all": [round(x, 4) for x in fn_times],
            "act_all": [round(x, 4) for x in act_times],
        }
        print(f"{name}: fn={rows[name]['fn']:.3f} act={rows[name]['act']:.3f}", flush=True)

    total_fn = sum(r["fn"] for r in rows.values())
    total_act = sum(r["act"] for r in rows.values())
    out = {"queries": rows, "total_fn": round(total_fn, 2), "total_act": round(total_act, 2),
           "n": len(rows)}
    Path(args.out).write_text(json.dumps(out, indent=1, sort_keys=True))
    print(f"TOTAL fn={total_fn:.1f}s act={total_act:.1f}s n={len(rows)}")


if __name__ == "__main__":
    main()
