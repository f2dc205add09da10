"""Traced run: per-layer metrics, attributed from outside the program.

Before each call into a layer the run labels Spark jobs
``workload:op:layer`` through ``setJobGroup``; it wraps the public functions
the orchestrator calls (module attributes, replaced for one cycle only), the
watermark store and ledger it hands the orchestrator, and the package-zip
helper; and after the session stops it reads jobs, tasks and task metrics
per label, or per time window, from the Spark event log. Pipeline stage self times come from
prefix differencing: stages 1..k of the orchestrator's order run to a
``noop`` sink, and stage k's self time is T(k) - T(k-1).

Tracing overhead is the traced op's time minus the mean of the untraced
warm ops just before and after it in the same process. End-to-end metrics
come from untraced runs only.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
import traceback
from unittest import mock

import host

PREFIX_ROUNDS = 3  # prefix-differencing repeats; stage times are medians
OWNERS = ("operators.semantic", "operators.textops", "operators.dedup", "operators.multimodal")

# (name, unit) of the per-layer metrics. Every traced run reports COMMON,
# which both kinds of workload reach and which BENCHMARK.json declares; a
# pipeline run adds PIPELINE_METRICS and a registry run REGISTRY_METRICS,
# printed and kept in the run's record.
PIPELINE_METRICS = (
    ("sources.scan_s", "s"), ("sources.rows_in", "count"),
    ("functions.timestamps.filter_s", "s"),
    ("functions.timestamps.rows_outside_window", "count"),
    ("functions.timestamps.rows_no_ts", "count"),
    ("functions.timestamps.rows_below_watermark", "count"),
    ("functions.text.extract_s", "s"), ("functions.text.rows_no_text", "count"),
    ("operators.dedup.first_wins_s", "s"), ("operators.dedup.rows_dup_dropped", "count"),
    ("pipeline.formatter.write_jsonl_s", "s"), ("pipeline.formatter.requests", "count"),
    ("pipeline.formatter.jsonl_bytes", "bytes"),
    ("pipeline.llm.respond_s", "s"), ("pipeline.llm.llm_calls", "count"),
    ("pipeline.llm.executor_cpu_s", "s"),
    ("pipeline.parser.parse_s", "s"), ("pipeline.parser.parsed_rows", "count"),
    ("pipeline.parser.parsed_raw", "count"),
    ("pipeline.state.ledger_s", "s"),
    ("pipeline.orchestrator.jobs", "count"), ("pipeline.orchestrator.cached_frames", "count"),
)
REGISTRY_METRICS = (
    ("plans.build_s", "s"), ("plans.build_jobs", "count"), ("plans.catalyst_s", "s"),
    ("streaming.build_s", "s"),
) + tuple(
    (f"{owner}.{m}", unit)
    for owner in OWNERS
    for m, unit in (
        ("exec_s", "s"), ("exec_jobs", "count"), ("exec_tasks", "count"),
        ("exec.shuffle_bytes", "bytes"), ("exec.executor_cpu_s", "s"), ("exec.gc_s", "s"),
    )
)
COMMON = (
    ("session.import_s", "s"), ("session.get_spark_s", "s"),
    ("session.pyfile_zip_s", "s"), ("session.pyfile_zip_bytes", "bytes"),
    ("session.python_workers", "count"), ("session.cold_op_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.shuffle_bytes", "bytes"),
    ("spark.executor_cpu_s", "s"), ("python.worker_cpu_s", "s"),
    ("operators.dedup.shuffle_bytes", "bytes"),
    ("trace.untraced_op_s", "s"), ("trace.traced_op_s", "s"),
)
# Printed, not declared: the traced op's time minus the untraced one's is
# within op-to-op noise and can be negative.
DIAGNOSTIC = (("trace.overhead_s", "s"),)


def _ms() -> int:
    return int(time.time() * 1000)


def _within(job: dict, window: tuple[int, int]) -> bool:
    return window[0] <= job["submit_ms"] <= window[1]


class Timed:
    """Proxy adding the wall time of every method call to ``acc[key]``."""

    def __init__(self, inner, acc: dict, key: str):
        self._inner, self._acc, self._key = inner, acc, key

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def call(*a, **k):
            t0 = time.perf_counter()
            try:
                return attr(*a, **k)
            finally:
                self._acc[self._key] = self._acc.get(self._key, 0.0) + time.perf_counter() - t0

        return call


def counting_transport(acc):
    """Transport factory for the workers: the stub LLM, counting its calls
    in the accumulator ``acc``."""
    from batch_public_spark.pipeline.llm import StubTransport

    class Counting(StubTransport):
        def complete(self, custom_id, body):
            acc.add(1)
            return super().complete(custom_id, body)

    return Counting


class Tracer:
    OWN: tuple = ()  # the metrics only this kind of workload reaches

    def __init__(self, spark, workload: str):
        self.spark, self.sc, self.workload = spark, spark.sparkContext, workload
        self.metrics = self.OWN + COMMON + DIAGNOSTIC
        self.values: dict[str, float] = {name: 0 for name, _ in self.metrics}
        self.failures: list[str] = []
        self.attempted = self.failed = 0  # checked steps
        self.op_window = (0, 0)  # epoch ms around the traced op, its check excluded

    def checked(self, errors: list[str]) -> None:
        self.attempted += 1
        self.failed += bool(errors)
        self.failures += errors

    def group(self, op, layer: str) -> str:
        return f"{self.workload}:{op}:{layer}"

    def label(self, op, layer: str) -> None:
        group = self.group(op, layer)
        self.sc.setJobGroup(group, group)

    def cached_frames(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def run_op(self, wl, op, hooks=None) -> float:
        """One op with its check; failures are recorded, the time returned.
        An op with ``hooks`` is the traced one: its time window and the
        Python workers' CPU over it, its check excluded, are kept."""
        traced = hooks is not None
        if traced:
            start, cpu0 = _ms(), host.cpu_s(host.python_workers())
        elapsed, out = wl.op(hooks=hooks)
        if traced:
            self.op_window = (start, _ms())
            self.values["python.worker_cpu_s"] = host.cpu_s(host.python_workers()) - cpu0
        try:
            self.label(op, "check")
            self.checked(wl.check(out))
            self.after_op(out)
        finally:
            wl.cleanup(out)
        return elapsed

    def after_op(self, out) -> None:
        pass

    def trace(self, wl, op) -> float:
        """Run ``op`` traced, through ``run_op`` with hooks; its time."""
        raise NotImplementedError

    def traced_op(self, wl) -> None:
        """Op 2 traced, between two untraced ops."""
        v = self.values
        self.label(1, "untraced")
        before = self.run_op(wl, 1)
        v["trace.traced_op_s"] = self.trace(wl, 2)
        self.label(3, "untraced")
        v["trace.untraced_op_s"] = (before + self.run_op(wl, 3)) / 2

    def cold(self, wl) -> None:
        """The cold op, with the package zip shipped to the workers timed."""
        import batch_public_spark.util as util

        zip_s: list[float] = []
        shipped: list[str] = []
        real_ensure, real_add = util.ensure_workers_can_import, self.sc.addPyFile

        def timed_ensure(spark):
            t0 = time.perf_counter()
            try:
                return real_ensure(spark)
            finally:
                zip_s.append(time.perf_counter() - t0)

        def add_py_file(path):
            shipped.append(path)
            return real_add(path)

        v = self.values
        self.label(0, "cold")
        with mock.patch.object(util, "ensure_workers_can_import", timed_ensure), \
                mock.patch.object(self.sc, "addPyFile", add_py_file):
            v["session.cold_op_s"] = self.run_op(wl, 0)
        v["session.pyfile_zip_s"] = sum(zip_s)
        v["session.pyfile_zip_bytes"] = sum(os.path.getsize(p) for p in shipped)
        v["session.python_workers"] = len(host.python_workers())

    def from_event_log(self, jobs: list[dict]) -> None:
        """The counters of every job submitted during the traced op."""
        import eventlog

        op = eventlog.total([j for j in jobs if _within(j, self.op_window)])
        v = self.values
        v["spark.jobs"], v["spark.tasks"] = op["jobs"], op["tasks"]
        v["spark.shuffle_bytes"] = op["shuffle_write_bytes"]
        v["spark.executor_cpu_s"] = op["executor_cpu_s"]


# --------------------------------------------------------------------------
# Pipeline workloads
# --------------------------------------------------------------------------


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class PipelineTracer(Tracer):
    OWN = PIPELINE_METRICS

    def after_op(self, out) -> None:
        self.last_now = out["now"]
        self.values["pipeline.orchestrator.cached_frames"] = self.cached_frames()
        result = out["result"]
        self.values["pipeline.formatter.requests"] = result.n_requests
        self.values["pipeline.formatter.jsonl_bytes"] = _dir_bytes(result.jsonl_path)
        parsed = os.path.join(out["cycle_dir"], "parsed")
        if os.path.isdir(parsed):
            from pyspark.sql import functions as F

            row = self.spark.read.parquet(parsed).agg(
                F.count("*").alias("n"), F.sum(F.col("is_raw").cast("int")).alias("raw")
            ).collect()[0]
            self.values["pipeline.parser.parsed_rows"] = row["n"]
            self.values["pipeline.parser.parsed_raw"] = row["raw"] or 0

    def trace(self, wl, op) -> float:
        """One cycle with the jobs of every layer labelled and the state
        layer and the LLM stage timed and counted."""
        import batch_public_spark.pipeline.orchestrator as orch_mod

        # A job belongs to the layer whose call precedes it in run_batch:
        # first_wins -> the cached count; write_jsonl's own jobs; after
        # write_jsonl -> the watermark collect; the parsed write -> LLM+parse.
        after = {
            "first_wins": "operators.dedup",
            "build_requests": "pipeline.formatter",
            "write_jsonl": "pipeline.orchestrator",
        }
        patched = {}
        for name, layer in after.items():
            fn = getattr(orch_mod, name)

            @functools.wraps(fn)
            def call(*a, _fn=fn, _layer=layer, **k):
                out = _fn(*a, **k)
                self.label(op, _layer)
                return out

            patched[name] = call
        state: dict = {}
        acc = self.sc.accumulator(0)
        hooks = {
            "wrap_state": lambda obj: Timed(obj, state, "ledger_s"),
            "transport_factory": counting_transport(acc),
            "before_persist": lambda: self.label(op, "pipeline.llm"),
        }
        self.label(op, "sources")
        with mock.patch.multiple(orch_mod, **patched):
            elapsed = self.run_op(wl, op, hooks)
        v = self.values
        v["pipeline.llm.llm_calls"] = acc.value
        v["pipeline.state.ledger_s"] = state.get("ledger_s", 0.0)
        return elapsed

    def prefixes(self, wl, now: int, op) -> None:
        """Stage self times by prefix differencing, with the orchestrator's
        own public functions in its order; as in ``run_batch`` the stages
        after dedup read the deduplicated frame from cache. Then the drop
        classes, counted by Spark, checked against the oracle."""
        from pyspark.sql import functions as F

        import items
        from batch_public_spark.functions.text import dedup_key, extract_text
        from batch_public_spark.functions.timestamps import discover_event_ts
        from batch_public_spark.operators.dedup import first_wins, incremental_filter
        from batch_public_spark.pipeline.formatter import build_requests, write_jsonl
        from batch_public_spark.pipeline.llm import StubTransport, respond
        from batch_public_spark.pipeline.parser import parse_batch_output

        self.label(op, "prefix")
        cutoff, wm = now - items.LOOKBACK_S, wl.spec.watermark
        src = wl.source()
        p2 = src.withColumn("_event_ts", discover_event_ts(src))
        p2 = p2.filter(F.col("_event_ts").isNotNull() & (F.col("_event_ts") >= F.lit(cutoff)))
        p2 = incremental_filter(p2, "_event_ts", wm)
        p3 = p2.withColumn("_text", extract_text(src)).filter(F.col("_text").isNotNull())
        p4 = first_wins(p3, dedup_key(p3), "id")
        samples: dict[str, list[float]] = {}
        for r in range(PREFIX_ROUNDS):
            t1, t2, t3, t4 = (_noop(p) for p in (src, p2, p3, p4))
            work = p4.cache()
            work.count()
            requests = build_requests(work, text_col="_text", id_col="id")
            t0 = time.perf_counter()
            write_jsonl(requests, os.path.join(wl.work, f"prefix_{op}_{r}"))
            t_jsonl = time.perf_counter() - t0
            raw = respond(requests, StubTransport)
            t_req, t_raw = _noop(requests), _noop(raw)
            t_parsed = _noop(parse_batch_output(raw))
            work.unpersist(blocking=True)
            for key, v in (
                ("sources.scan_s", t1),
                ("functions.timestamps.filter_s", t2 - t1),
                ("functions.text.extract_s", t3 - t2),
                ("operators.dedup.first_wins_s", t4 - t3),
                ("pipeline.formatter.write_jsonl_s", t_jsonl),
                ("pipeline.llm.respond_s", t_raw - t_req),
                ("pipeline.parser.parse_s", t_parsed - t_raw),
            ):
                samples.setdefault(key, []).append(v)
        self.values.update({k: statistics.median(v) for k, v in samples.items()})

        ets, text = discover_event_ts(src), extract_text(src)
        in_window = ets.isNotNull() & (ets >= F.lit(cutoff))
        new = in_window if wm is None else in_window & (ets > F.lit(wm))
        row = src.agg(
            F.count("*").alias("rows_in"),
            F.sum(ets.isNull().cast("int")).alias("no_ts"),
            F.sum((ets.isNotNull() & (ets < F.lit(cutoff))).cast("int")).alias("outside"),
            F.sum((in_window & ~new).cast("int")).alias("below_wm"),
            F.sum((new & text.isNull()).cast("int")).alias("no_text"),
            F.sum((new & text.isNotNull()).cast("int")).alias("with_text"),
        ).collect()[0]
        selected = p4.count()
        counted = {
            "sources.rows_in": row["rows_in"],
            "functions.timestamps.rows_no_ts": row["no_ts"],
            "functions.timestamps.rows_outside_window": row["outside"],
            "functions.timestamps.rows_below_watermark": row["below_wm"] or 0,
            "functions.text.rows_no_text": row["no_text"] or 0,
            "operators.dedup.rows_dup_dropped": (row["with_text"] or 0) - selected,
        }
        self.values.update(counted)
        exp = items.expect(wl.items, now, wm)
        expected = {
            "sources.rows_in": exp.rows_in,
            "functions.timestamps.rows_no_ts": exp.rows_no_ts,
            "functions.timestamps.rows_outside_window": exp.rows_outside_window,
            "functions.timestamps.rows_below_watermark": exp.rows_below_watermark,
            "functions.text.rows_no_text": exp.rows_no_text,
            "operators.dedup.rows_dup_dropped": exp.rows_dup_dropped,
        }
        errors = [
            f"{k}: counted {v}, expected {expected[k]}"
            for k, v in counted.items() if v != expected[k]
        ]
        drops = sum(v for k, v in counted.items() if k != "sources.rows_in")
        if counted["sources.rows_in"] != selected + drops:
            errors.append(f"rows in != selected {selected} + drop classes {counted}")
        self.checked(errors)

    def run(self, wl) -> None:
        self.cold(wl)
        self.traced_op(wl)
        # The stub LLM is the only code the cycle runs in Python workers.
        self.values["pipeline.llm.executor_cpu_s"] = self.values["python.worker_cpu_s"]
        self.prefixes(wl, self.last_now, 4)

    def from_event_log(self, jobs: list[dict]) -> None:
        super().from_event_log(jobs)
        import eventlog

        v = self.values
        v["pipeline.orchestrator.jobs"] = len([
            j for j in jobs
            if j["group"].startswith(self.group(2, "")) and j["group"] != self.group(2, "check")
        ])
        dedup = self.group(2, "operators.dedup")
        v["operators.dedup.shuffle_bytes"] = eventlog.total(
            [j for j in jobs if j["group"] == dedup]
        )["shuffle_write_bytes"]


# --------------------------------------------------------------------------
# Registry workloads
# --------------------------------------------------------------------------


class RegistryTracer(Tracer):
    OWN = REGISTRY_METRICS

    def run(self, wl) -> None:
        self.build_windows: list[tuple[int, int]] = []
        self.cold(wl)
        self.traced_op(wl)

    def trace(self, wl, op) -> float:
        v = self.values

        def around(query, phase, layer, thunk):
            self.label(op, f"{layer}:{query}:{phase}")
            start, t0 = _ms(), time.perf_counter()
            out = thunk()
            dt = time.perf_counter() - t0
            if phase == "build":
                # By time, not by job group: a stream started inside fn()
                # runs its jobs under a job group of its own.
                self.build_windows.append((start, _ms()))
                v[f"{layer}.build_s"] += dt
                if layer == "streaming":
                    v["plans.build_s"] += dt
                t0 = time.perf_counter()
                out._jdf.queryExecution().executedPlan()
                v["plans.catalyst_s"] += time.perf_counter() - t0
            elif layer in OWNERS:
                v[f"{layer}.exec_s"] += dt
            return out

        return self.run_op(wl, op, {"around": around})

    def from_event_log(self, jobs: list[dict]) -> None:
        super().from_event_log(jobs)
        import eventlog

        v = self.values
        v["plans.build_jobs"] = len(
            [j for j in jobs if any(_within(j, w) for w in self.build_windows)]
        )
        for owner in OWNERS:
            prefix = self.group(2, f"{owner}:")
            t = eventlog.total([j for j in jobs if j["group"].startswith(prefix)])
            v[f"{owner}.exec_jobs"] = t["jobs"]
            v[f"{owner}.exec_tasks"] = t["tasks"]
            v[f"{owner}.exec.shuffle_bytes"] = t["shuffle_write_bytes"]
            v[f"{owner}.exec.executor_cpu_s"] = t["executor_cpu_s"]
            v[f"{owner}.exec.gc_s"] = t["gc_s"]
        v["operators.dedup.shuffle_bytes"] = v["operators.dedup.exec.shuffle_bytes"]


def _dir_bytes(path: str | None) -> int:
    total = 0
    for root, _dirs, files in os.walk(path or ""):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def run(spark, wl, timing: dict) -> "Tracer":
    """Trace ``wl``; the session must have been started with the event log
    on. Returns the tracer; call ``finish`` with the log after stopping."""
    cls = PipelineTracer if wl.name.startswith("pipeline_") else RegistryTracer
    tr = cls(spark, wl.name)
    tr.values["session.import_s"] = timing["import_s"]
    tr.values["session.get_spark_s"] = timing["get_spark_s"]
    try:
        tr.run(wl)
    except Exception:  # noqa: BLE001 — report what was measured, and the failure
        tr.checked([traceback.format_exc(limit=4)])
    v = tr.values
    v["trace.overhead_s"] = v["trace.traced_op_s"] - v["trace.untraced_op_s"]
    return tr


def finish(tr: Tracer, log_dir: str) -> None:
    import eventlog

    tr.from_event_log(eventlog.jobs(log_dir))
