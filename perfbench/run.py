#!/usr/bin/env python3
"""Benchmark for the batch_public_spark engine.

Run from the root of a source tree:

    python3 perfbench/run.py --workload pipeline_full --seed 1 --seconds 10 --trace 0

One process per run: the run generates its inputs from the seed, starts a
Spark session, runs ops of the workload for ``--seconds`` seconds (the first
op is the cold one every fresh process pays), checks every op's outputs and
prints one metric per line, ending with one JSON object. ``--trace 1`` runs
the same workload with per-layer attribution instead and reports the
per-layer metrics (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402

WORKLOADS = (
    "pipeline_full", "pipeline_incremental", "llm_data_ops", "plan_heavy", "registry_mix",
)
WARM_OPS = 3  # warm ops every run makes; warm_p50_s is their median
MAX_LOOP_S = 100.0  # no op starts later than this into the loop
MAX_CPUS = 4  # Spark runs local[min(nproc, MAX_CPUS)]
WORK_DIR = ".perfbench_work"  # per-run scratch, removed when the run ends
OUT_DIR = ".perfbench_out"  # per-run records (op times, per-layer metrics)
TAIL_BEYOND = 10  # samples a reported tail percentile must have beyond it


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant-wrong-expectation", action="store_true",
                   help="self-check: make the oracle expect one row too many")
    p.add_argument("--items", type=int, default=None,
                   help="pipeline item count (default: the workload's size)")
    return p.parse_args(argv)


def make_workload(name: str, seed: int, work: str, n_items: int | None):
    if name.startswith("pipeline_"):
        from pipeline_ops import PipelineWorkload

        return PipelineWorkload(name, seed, work, n_items=n_items)
    from registry_ops import RegistryWorkload

    return RegistryWorkload(name, seed, work)


def isolate(work: str) -> None:
    """Keep every temporary file of the run, Python's and both JVMs'
    (spark-submit's launcher and the driver), under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}"
    )


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file:" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    for pid in host.descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def tail(values: list[float]) -> tuple[float, float | None]:
    """Highest percentile with at least TAIL_BEYOND samples beyond it, and
    that percentile; with too few samples, the maximum and None."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return max(values), None
    k = n - TAIL_BEYOND  # 1-based rank of the reported sample
    return sorted(values)[k - 1], round(100.0 * k / n, 1)


def emit(name: str, value, unit: str) -> None:
    print(f"{name} {value} {unit}", flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "batch_public_spark")):
        print(f"no batch_public_spark package under {ROOT}", file=sys.stderr)
        return 2
    fp = host.fingerprint()
    work = os.path.join(ROOT, WORK_DIR, f"run_{os.getpid()}")
    isolate(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(host.nproc(), MAX_CPUS))
    spark = None
    try:
        sys.path.insert(0, ROOT)
        t0 = time.perf_counter()
        import batch_public_spark  # noqa: F401
        from batch_public_spark.plans import QUERIES  # noqa: F401
        from batch_public_spark.session import get_spark

        t1 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}", extra_conf=session_conf(work, bool(args.trace))
        )
        spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        # Process start to a ready session; the inputs are generated after.
        setup_s = host.process_age_s()
        wl = make_workload(args.workload, args.seed, work, args.items)
        if args.plant_wrong_expectation:
            wl.plant_wrong_expectation()
        wl.prepare(spark)
        timing = {"import_s": t1 - t0, "get_spark_s": t2 - t1,
                  "gen_s": time.perf_counter() - t2}
        if args.trace:
            import layers

            tracer = layers.run(spark, wl, timing)
            stop_spark(spark)
            spark = None
            layers.finish(tracer, os.path.join(work, "eventlog"))
            record = report_layers(tracer)
        else:
            times, failures = run_ops(wl, args.seconds)
            mem = host.memory_mb()
            stop_spark(spark)
            spark = None
            record = report(setup_s, timing, times, failures, mem, fp)
        save(args, fp, record)
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run_ops(wl, seconds: float):
    """Ops until ``seconds`` have passed and WARM_OPS warm ops ran (no new
    op starts after MAX_LOOP_S). Returns each op's wall time (None when it
    raised) and one failure line per failed op."""
    times: list[float | None] = []
    failures: list[str] = []
    start = time.perf_counter()
    while True:
        out, elapsed = None, None
        try:
            elapsed, out = wl.op()
            errors = wl.check(out)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            errors = [traceback.format_exc(limit=4)]
        finally:
            if out is not None:
                wl.cleanup(out)
        times.append(elapsed)
        if errors:
            failures.append(f"op {len(times) - 1}: " + "; ".join(errors))
        done = time.perf_counter() - start
        if (done >= seconds and len(times) > WARM_OPS) or done >= MAX_LOOP_S:
            return times, failures


def report(setup_s, timing, times, failures, mem, fp) -> dict:
    """Print the end-to-end metrics; return the run's record."""
    warm = [t for t in times[1:] if t is not None]
    cold_s = times[0]
    # The first WARM_OPS warm ops, whatever the run's length: JIT warm-up
    # still shortens ops at this depth, so a median over a variable number
    # of ops would move with the op count.
    first = [t for t in times[1 : 1 + WARM_OPS] if t is not None]
    warm_p50 = statistics.median(first) if first else None
    tail_s, tail_pct = tail(warm) if warm else (None, None)
    attempted, failed = len(times), len(failures)
    for k, v in fp.items():
        emit(f"host.{k}", v, "")
    for k, v in timing.items():
        emit(f"setup.{k}", round(v, 4), "s")
    emit("setup_s", setup_s, "s")
    emit("cold_s", cold_s, "s")
    emit("warm_p50_s", warm_p50, "s")
    emit("warm_tail_s", tail_s,
         f"s (diagnostic: percentile {tail_pct} of {len(warm)} warm ops)")
    rss = mem["jvm_hwm"] + mem["python_hwm"]
    emit("peak_rss_mb", round(rss, 3), "MB")
    for k, v in mem.items():
        emit(f"mem.{k}", round(v, 3), "MB" if k != "python_procs" else "count")
    emit("fail_ratio", failed / attempted, "ratio")
    emit("ops_s", json.dumps([None if t is None else round(t, 4) for t in times]), "s")
    for f in failures:
        print("failure " + f.replace("\n", " | "), file=sys.stderr, flush=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_s": {"value": cold_s, "unit": "s"},
            "warm_p50_s": {"value": warm_p50, "unit": "s"},
        },
    }
    print(json.dumps(result), flush=True)
    return {"ops_s": times, "failures": failures, "peak_rss_mb": rss, "memory_mb": mem, **result}


def report_layers(tracer) -> dict:
    """Print the per-layer metrics of a traced run; return its record."""
    import layers

    attempted, failed = tracer.attempted, tracer.failed
    for name, unit in tracer.metrics:
        emit(name, tracer.values[name], unit)
    # The declared per-layer metrics: those every workload reaches.
    metrics = {
        name: {"value": tracer.values[name], "unit": unit} for name, unit in layers.COMMON
    }
    emit("fail_ratio", failed / attempted, "ratio")
    for f in tracer.failures:
        print("failure " + f.replace("\n", " | "), file=sys.stderr, flush=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return {"failures": tracer.failures, "layers": tracer.values, **result}


def save(args, fp: dict, record: dict) -> None:
    """Keep the run's record under the output directory of the checkout."""
    out = os.path.join(ROOT, OUT_DIR)
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out, name), "w", encoding="utf-8") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "host": fp, **record}, fh)


if __name__ == "__main__":
    sys.exit(main())
