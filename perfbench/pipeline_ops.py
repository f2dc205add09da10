"""Pipeline workloads: one op is one ``Orchestrator.run_batch`` cycle over
the generated item store, with the parsed output persisted.

The CLI never materializes ``RunResult.parsed``, so a timed CLI run would do
no LLM or parse work; the cycle here drives the orchestrator directly and
writes the parsed frame itself. Every cycle uses a fresh watermark file (the
incremental workload presets it) and a fresh ledger, and runs at its own
``now``: the orchestrator caches each cycle's filtered frame, so two cycles
at the same ``now`` would let the second one reuse the first one's cache.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass

import items

TABLE = "items"


@dataclass
class PipelineSpec:
    n_items: int
    watermark: int | None  # preset high-water mark, None for a fresh store


SPECS = {
    "pipeline_full": PipelineSpec(n_items=24000, watermark=None),
    "pipeline_incremental": PipelineSpec(n_items=60000, watermark=items.WATERMARK),
}


class PipelineWorkload:
    """Owns the item store, the per-cycle state directories and the oracle."""

    def __init__(self, name: str, seed: int, work: str, *, n_items: int | None = None):
        self.name = name
        self.spec = SPECS[name]
        self.work = work
        self.items = items.generate(seed, n_items or self.spec.n_items)
        self.data_dir = os.path.join(work, "store")
        os.makedirs(self.data_dir, exist_ok=True)
        items.write_parquet(self.items, os.path.join(self.data_dir, f"{TABLE}.parquet"))
        self.cycle_no = 0
        self.planted = 0  # rows the oracle over-expects (self-check only)

    def plant_wrong_expectation(self) -> None:
        self.planted = 1

    def prepare(self, spark) -> None:
        from batch_public_spark.sources.tables import load_table

        self.spark = spark
        self.source = lambda: load_table(spark, self.data_dir, TABLE)

    def orchestrator(self, cycle_dir: str, hooks: dict):
        from batch_public_spark.pipeline import (
            JobLedger,
            Orchestrator,
            StubTransport,
            WatermarkStore,
        )

        watermarks = WatermarkStore(os.path.join(cycle_dir, "batch_watermark.json"))
        if self.spec.watermark is not None:
            watermarks.advance(TABLE, self.spec.watermark)
        ledger = JobLedger(os.path.join(cycle_dir, "batch_status.json"))
        wrap = hooks.get("wrap_state", lambda state: state)
        return Orchestrator(
            watermarks=wrap(watermarks),
            ledger=wrap(ledger),
            transport_factory=hooks.get("transport_factory") or StubTransport,
            output_dir=os.path.join(cycle_dir, "output"),
        )

    def next_cycle(self) -> tuple[str, int]:
        """A fresh state directory and a `now` no earlier cycle used."""
        cycle_dir = os.path.join(self.work, f"cycle_{self.cycle_no:04d}")
        now = items.NOW0 + self.cycle_no
        if self.cycle_no >= items.GAP_S:
            raise RuntimeError("run too long: `now` would move items across the window edge")
        self.cycle_no += 1
        return cycle_dir, now

    def op(self, *, hooks: dict | None = None) -> tuple[float, dict]:
        """One timed cycle. Returns its wall time and what the check needs.
        ``hooks`` may replace the watermark store, ledger and transport, and
        ``hooks['before_persist']`` runs before the parsed output is written
        (the traced run labels the LLM and parse jobs there)."""
        hooks = hooks or {}
        cycle_dir, now = self.next_cycle()
        orch = self.orchestrator(cycle_dir, hooks)
        parsed_dir = os.path.join(cycle_dir, "parsed")
        t0 = time.perf_counter()
        result = orch.run_batch(
            self.source(), table_name=TABLE, hours=items.HOURS, id_col="id", now=now
        )
        if result.parsed is not None:
            if "before_persist" in hooks:
                hooks["before_persist"]()
            result.parsed.write.mode("error").parquet(parsed_dir)
        elapsed = time.perf_counter() - t0
        return elapsed, {"result": result, "cycle_dir": cycle_dir, "now": now, "orch": orch}

    def check(self, out: dict) -> list[str]:
        """Mismatches between the cycle's outputs and the oracle; empty when
        the cycle is correct. Runs outside the timed region."""
        from pyspark.sql import functions as F

        result, cycle_dir = out["result"], out["cycle_dir"]
        exp = items.expect(self.items, out["now"], self.spec.watermark)
        exp.selected += self.planted
        errors = []
        if not exp.reconciles():
            errors.append("oracle drop classes do not reconcile")

        def same(what, got, want):
            if got != want:
                errors.append(f"{what}: got {got}, expected {want}")

        same("n_input", result.n_input, exp.selected)
        same("n_requests", result.n_requests, exp.selected)
        same("skipped_reason", result.skipped_reason, None)
        lines = 0
        for part in glob.glob(os.path.join(result.jsonl_path or "", "part-*")):
            with open(part, "rb") as fh:
                lines += sum(1 for _ in fh)
        same("jsonl lines", lines, exp.selected)
        parsed_dir = os.path.join(cycle_dir, "parsed")
        if os.path.isdir(parsed_dir):
            row = (
                self.spark.read.parquet(parsed_dir)
                .agg(F.count("*").alias("n"), F.sum(F.col("is_raw").cast("int")).alias("raw"))
                .collect()[0]
            )
            same("parsed rows", row["n"], exp.parsed_rows)
            same("parsed_raw", row["raw"] or 0, 0)
        else:
            errors.append("parsed output was not written")
        entry = out["orch"].ledger.get(result.batch_id) or {}
        same("ledger status", entry.get("status"), "completed")
        same("ledger record_count", entry.get("record_count"), exp.selected)
        return errors

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["cycle_dir"], ignore_errors=True)
