#!/usr/bin/env python
"""Measurement-only: split every registry query's time into fn()-build vs
action, in one warm session with bench.py's protocol (sorted sweep,
``bench.warm``). Writes JSON to --out (default /tmp/profile_registry.json).

Every ``fn()`` runs under the Spark job group ``{name}:build`` and every
action under ``{name}:exec``; ``fn_jobs``/``act_jobs`` are the jobs each
group launched (minimum over reps, like the times). A stream builder runs
its micro-batches on the stream's own thread, which does not inherit the
caller's job group, so those jobs are not counted.

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
    tracker = sc.statusTracker()

    def jobs_in(group: str) -> int:
        # the status store is fed by the async listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return len(tracker.getJobIdsForGroup(group))

    names = args.only or sorted(QUERIES)
    rows = {}
    for name in names:
        fn_times, act_times, fn_jobs, act_jobs = [], [], [], []
        build, run = f"{name}:build", f"{name}:exec"
        for i in range(args.reps):
            n_build, n_run = jobs_in(build), jobs_in(run)
            sc.setJobGroup(build, f"profile:{name}#{i}")
            t0 = time.perf_counter()
            df = QUERIES[name].fn(spark, SF_DIR)
            t1 = time.perf_counter()
            sc.setJobGroup(run, f"profile:{name}#{i}")
            df.count()
            t2 = time.perf_counter()
            fn_times.append(t1 - t0)
            act_times.append(t2 - t1)
            fn_jobs.append(jobs_in(build) - n_build)
            act_jobs.append(jobs_in(run) - n_run)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        rows[name] = {
            "fn": round(min(fn_times), 4),
            "act": round(min(act_times), 4),
            "fn_all": [round(x, 4) for x in fn_times],
            "act_all": [round(x, 4) for x in act_times],
            "fn_jobs": min(fn_jobs),
            "act_jobs": min(act_jobs),
            "fn_jobs_all": fn_jobs,
            "act_jobs_all": act_jobs,
        }
        print(
            f"{name}: fn={rows[name]['fn']:.3f} act={rows[name]['act']:.3f} "
            f"jobs={rows[name]['fn_jobs']}/{rows[name]['act_jobs']} "
            f"all={fn_jobs}/{act_jobs}",
            flush=True,
        )

    total_fn = sum(r["fn"] for r in rows.values())
    total_act = sum(r["act"] for r in rows.values())
    out = {"queries": rows, "total_fn": round(total_fn, 2), "total_act": round(total_act, 2),
           "n": len(rows)}
    Path(args.out).write_text(json.dumps(out, indent=1, sort_keys=True))
    print(f"TOTAL fn={total_fn:.1f}s act={total_act:.1f}s n={len(rows)}")


if __name__ == "__main__":
    main()
