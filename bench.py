#!/usr/bin/env python
"""Benchmark harness: run the declared queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line with wall times.

The driver records this as BENCH_r{N}.json but only captures the LAST 2000
CHARS of stdout — so the printed line carries the total, per-family totals,
and a headline per-query subset, and is hard-capped below that window.
Full per-query timings always land in BENCH_FULL.json next to this script.
"""

from __future__ import annotations

import json
import os
import platform
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from batch_public_spark.plans import QUERIES  # noqa: E402
from batch_public_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FULL_PATH = Path(__file__).resolve().parent / "BENCH_FULL.json"

# Keep the printed line comfortably inside the driver's 2000-char capture.
MAX_LINE = 1900

# One representative per operator family for the printed line; everything
# else is visible via family totals + BENCH_FULL.json.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "join_left_order_counts",
    "join_asof_last_click",
    "window_rank_orders",
    "topk_orders_per_customer",
    "explode_word_counts",
    "pipeline_llm_roundtrip",
    "pipeline_dedup_first_wins",
    "llmops_dedup_exact",
    "llmops_minhash_dedup",
    "llmops_simhash_neardup",
    "llmops_embedding_neardup",
    "llmops_ann_bruteforce",
    "llmops_ann_lsh",
    "llmops_text_metrics",
    "llmops_decontaminate",
    "llmops_sequence_pack",
    "stream_tumbling_counts",
    "stream_session_windows",
    "events_sessionize_gap",
    "dq_psi_drift",
    "llmops_dedup_cascade_e2e",
]


def family(name: str) -> str:
    head = name.split("_", 1)[0]
    # q1/q3/q5... and the one-off scalar-function families roll up.
    if head.startswith("q") and head[1:].isdigit():
        return "tpch"
    if head in {"rollup", "cube", "grouping", "pivot", "histogram", "unpivot"}:
        return "multidim"
    if head in {"string", "date", "math", "case", "json", "array", "explode", "sample"}:
        return "scalar"
    if head in {"setop", "distinct"}:
        return "setop"
    return head


def warm(spark) -> None:
    """Untimed warm-up before any timed query (also used by the tools/
    measurement scripts, so their timings follow the same protocol)."""
    # Warm the JVM + parquet footers once so timings measure the queries.
    QUERIES["q1_pricing_summary"].fn(spark, SF_DIR).count()
    # Warm the Python-worker/Arrow path at FULL WIDTH (r12 verdict: the
    # 64-row minhash warm forked only 1-2 workers, so mid-sweep Arrow
    # queries still paid worker fork + numpy/pandas import on whichever
    # timed run hit a cold pool slot — the mechanism behind the 2-4×
    # same-tree swings on this family). One untimed mapInPandas wave with
    # one partition per core forks the whole reusable worker pool with
    # pandas/numpy resident; executors are long-lived in production, so
    # this is cluster start-up cost, not query cost.
    from batch_public_spark.operators.semantic import minhash_signatures  # noqa: PLC0415

    minhash_signatures(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(64)
    ).count()

    def _arrow_noop(batches):
        import numpy as np  # noqa: PLC0415 — resident after warm
        import pandas as pd  # noqa: PLC0415

        for b in batches:
            yield pd.DataFrame({"id": np.asarray(b["id"]) * 1})

    width = os.cpu_count() or 32
    for _ in range(2):  # second wave reuses (verifies) the warmed pool
        spark.range(0, width * 64, 1, width).mapInPandas(
            _arrow_noop, "id long"
        ).count()


def main() -> None:
    # Launch-time load sample, BEFORE the session spins up: the close
    # checklist's idle criterion (launch loadavg < ~0.5) must be readable
    # from the committed artifact itself — the end-of-run sample below
    # only ever shows the bench's own load (r11 checklist fix).
    try:
        launch_load1 = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover — getloadavg unsupported
        launch_load1 = None
    spark = get_spark("batch_public_spark-bench")
    # Canonical sweep order = sorted names, DECOUPLED from the registry's
    # `_PRIORITY` attestation rotation (r13 verdict item #8): the rotation
    # reshuffles every round, so a rotation-ordered sweep changes each
    # query's in-suite neighborhood (GC pressure, worker-pool state, JVM
    # code-cache churn from whatever ran just before) and per-query anchors
    # stop comparing like-for-like across rounds. Sorted order is stable
    # under both rotation and insertions (an insertion shifts only its
    # alphabetical neighbors, not the whole tail).
    names = sorted(QUERIES) if os.environ.get("SPARK_GRAFT_BENCH_ALL", "1") == "1" else HEADLINE
    warm(spark)

    # Each query runs TWICE and reports the min: the first execution pays
    # its own one-time Catalyst/codegen compile (~0.3-1 s), which produced
    # phantom "regressions" two rounds running whenever a query moved to a
    # cold registry position (BENCH_NOTES.md r2+r3). Steady-state is what
    # a resident production driver sees; the cold time is kept alongside
    # it in BENCH_FULL.json. Queries whose physical plan crosses the
    # Python-worker boundary get a THIRD run (r12 verdict item #2): that
    # family's per-run times swing 2-4× between same-tree idle runs
    # (worker pool/fork state + Arrow transfer GC), so min-of-2 is a
    # noisy order statistic exactly where the noise is largest.
    _PY_NODES = (
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "PythonMapInArrow",
        "MapInArrow",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "AggregateInPandas",
        "MapGroupsInPandas",
        "WindowInPandas",
        "MapPartitions",
        "Scan ExistingRDD",  # RDD round-trip => Python serialization path
        "BatchScan",  # python data sources plan as BatchScan v2 relations
    )

    def _python_path(df) -> bool:
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception:  # pragma: no cover — defensive; assume noisy
            return True
        return any(tok in plan for tok in _PY_NODES)

    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    min3: list[str] = []
    for name in names:
        start = time.perf_counter()
        df = QUERIES[name].fn(spark, SF_DIR)
        df.count()
        runs = [time.perf_counter() - start]
        reps = 3 if _python_path(df) else 2
        if reps == 3:
            min3.append(name)
        for _ in range(reps - 1):
            start = time.perf_counter()
            QUERIES[name].fn(spark, SF_DIR).count()
            runs.append(time.perf_counter() - start)
        cold[name] = round(runs[0], 4)
        times[name] = round(min(runs), 4)

    sf_tag = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf_tag) if sf_tag.replace(".", "").isdigit() else sf_tag
    total = round(sum(times.values()), 2)

    # Host fingerprint: rounds run on different machines/loads, so absolute
    # totals are only comparable within one host (BENCH_NOTES.md r3-r4: a
    # 1.43x cross-host swing with flat per-query medians). Recording the
    # host makes that caveat machine-readable.
    try:
        load1, load5, load15 = os.getloadavg()
        host_info = {
            "host": platform.node(),
            "cpus": os.cpu_count(),
            "loadavg_launch_1m": launch_load1,
            "loadavg_1m": round(load1, 2),
            "loadavg_5m": round(load5, 2),
        }
    except OSError:  # pragma: no cover — getloadavg unsupported
        host_info = {"host": platform.node(), "cpus": os.cpu_count()}

    families: dict[str, float] = {}
    for name, t in times.items():
        families[family(name)] = round(families.get(family(name), 0.0) + t, 2)

    if names is not HEADLINE:  # headline smoke runs must not clobber the
        FULL_PATH.write_text(  # full-registry record (BENCH_NOTES baseline)
            json.dumps(
                {
                    "metric": "total wall seconds over declared query set",
                    "value": total,
                    "unit": "sec",
                    "queries": times,
                    "queries_cold": cold,
                    "queries_min3": sorted(min3),
                    "families": families,
                    "sf": sf,
                    "n_queries": len(times),
                    "timing": (
                        "min of 2 executions per query; min of 3 for "
                        "Python-worker-path plans (queries_min3)"
                    ),
                    "sweep_order": "sorted-names (rotation-independent, r14)",
                    **host_info,
                },
                indent=1,
                sort_keys=True,
            )
        )

    headline = {n: round(times[n], 2) for n in HEADLINE if n in times}
    out = {
        "metric": "total wall seconds over declared query set",
        "value": total,
        "unit": "sec",
        "queries": headline,
        "families": families,
        "sf": sf,
        "n_queries": len(times),
        "timing": "min2/min3py",
        "n_min3": len(min3),
        "full_detail": "BENCH_FULL.json",
        **host_info,
    }
    line = json.dumps(out, separators=(",", ":"))
    # Hard cap: trim headline entries, then family entries, until it fits.
    while len(line) > MAX_LINE and out["queries"]:
        out["queries"].pop(next(iter(out["queries"])))
        line = json.dumps(out, separators=(",", ":"))
    while len(line) > MAX_LINE and out["families"]:
        out["families"].pop(next(iter(out["families"])))
        line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
