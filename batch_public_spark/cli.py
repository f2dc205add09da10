"""CLI entry point mirroring the reference's flag surface (main.py:526-702).

Flags reproduced: ``--table`` (repeatable or comma-separated),
``--hours``, ``--model``, ``--test`` (dry-run, X7), ``--async``
(submit-and-exit; auto-enabled for >1 table like main.py:686-693),
``--resume ID``, ``--check-outputs`` (X4 sweep), ``--list-tables`` (S2),
``--list-models``. Table resolution falls back to a JSON config file's
``enabled_tables`` (reference batch_config.json) when no ``--table`` is
given.

Sources are parquet tables in ``--data-dir`` (the DynamoDB-scan role is
played by the parquet catalog — see sources.tables for the 100 TB ingest
story). State lives beside the output dir: ``batch_watermark.json`` +
``batch_status.json``, byte-compatible in spirit with the reference's.
``orchestrator`` and ``run_table`` are the one per-table run path; the
agent API (agent_api.py) calls them too.

Usage::

    python -m batch_public_spark.cli --table events --hours 12 --test
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import Observation
from pyspark.sql import functions as F

from batch_public_spark.pipeline import (
    JobLedger,
    Orchestrator,
    StubTransport,
    WatermarkStore,
)
from batch_public_spark.pipeline.models import ALIASES, CATALOG
from batch_public_spark.session import get_spark
from batch_public_spark.sources.tables import load_table


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="batch_public_spark",
        description="PySpark batch LLM pipeline (reference-parity CLI)",
    )
    p.add_argument("--table", action="append", default=None,
                   help="source table; repeat or comma-separate for several")
    p.add_argument("--hours", type=float, default=12.0,
                   help="look-back window in hours (default 12)")
    p.add_argument("--model", default="nano",
                   help="logical model key (nano/mini/full) or concrete id")
    p.add_argument("--test", action="store_true",
                   help="dry-run: write JSONL to the quarantined dir, no LLM call")
    p.add_argument("--async", dest="async_mode", action="store_true",
                   help="submit-and-exit (auto-enabled for >1 table)")
    p.add_argument("--batch-mock", action="store_true",
                   help="run the real provider Batch lifecycle (upload/create/"
                        "poll/download) against the durable in-repo mock; "
                        "state persists under <output-dir>/mock_provider so "
                        "--resume works from a later process")
    p.add_argument("--resume", metavar="BATCH_ID", default=None,
                   help="resume a previously submitted batch")
    p.add_argument("--check-outputs", action="store_true",
                   help="sweep the ledger for pending batches and close them out")
    p.add_argument("--list-tables", action="store_true")
    p.add_argument("--list-models", action="store_true")
    p.add_argument("--data-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    p.add_argument("--output-dir", default="output")
    p.add_argument("--config", default="batch_config.json",
                   help="JSON config with enabled_tables (used when no --table)")
    p.add_argument("--id-col", default=None,
                   help="source primary-key column (default: <table-specific>)")
    return p


# Per-fixture primary keys so the CLI works on the driver catalog out of the box.
_ID_COLS = {
    "events": "event_id", "documents": "doc_id", "embeddings": "vec_id",
    "orders": "o_orderkey", "customer": "c_custkey", "supplier": "s_suppkey",
    "part": "p_partkey", "nation": "n_nationkey", "region": "r_regionkey",
}

# Catalog tables with no discoverable event-time column are static reference
# data: they skip the look-back + watermark filters entirely (reference
# _NO_TS_FILTER, dynamo_fetcher.py:49-52).
_STATIC_TABLES = {
    "documents", "embeddings", "region", "nation", "customer",
    "supplier", "part", "orders", "lineitem",
}


def _resolve_tables(args: argparse.Namespace) -> list[str]:
    if args.table:
        out: list[str] = []
        for entry in args.table:
            out.extend(t.strip() for t in entry.split(",") if t.strip())
        return out
    if os.path.exists(args.config):
        with open(args.config, encoding="utf-8") as fh:
            return list(json.load(fh).get("enabled_tables", []))
    return []


def _data_tables(data_dir: str) -> list[str]:
    return sorted(
        f[: -len(".parquet")] for f in os.listdir(data_dir) if f.endswith(".parquet")
    )


def orchestrator(output_dir: str, *, batch_mock: bool = False) -> Orchestrator:
    """The orchestrator every entry point runs: JSON state beside the
    output dir, the stub transport, the catalog's static tables; with
    ``batch_mock`` the durable mock provider under ``<output_dir>/mock_provider``."""
    batch_client = None
    if batch_mock:
        from batch_public_spark.pipeline.batch_api import MockBatchClient

        batch_client = MockBatchClient(state_dir=os.path.join(output_dir, "mock_provider"))
    return Orchestrator(
        watermarks=WatermarkStore(os.path.join(output_dir, "batch_watermark.json")),
        ledger=JobLedger(os.path.join(output_dir, "batch_status.json")),
        transport_factory=StubTransport,
        output_dir=output_dir,
        no_ts_filter=_STATIC_TABLES,
        batch_client=batch_client,
        poll_every=0 if batch_mock else 60,
    )


def run_table(
    spark,
    orch: Orchestrator,
    table: str,
    *,
    data_dir: str,
    hours: float = 12.0,
    model: str = "nano",
    id_col: str | None = None,
    test_only: bool = False,
    async_mode: bool = False,
) -> dict:
    """One table's cycle, returned as its summary dict. A blocking run
    writes its parse stage to ``{output_dir}/parsed/{table}_{batch_id}``:
    that write is what runs the LLM and parse work."""
    result = orch.run_batch(
        load_table(spark, data_dir, table),
        table_name=table,
        hours=hours,
        model_key=model,
        id_col=id_col or _ID_COLS.get(table, "id"),
        test_only=test_only,
        submit_only=async_mode and not test_only,
    )
    n_parsed = None
    if result.parsed is not None:
        # The write's own job counts the rows; no read-back count job.
        path = os.path.join(orch.output_dir, "parsed", f"{table}_{result.batch_id}")
        written = Observation()
        result.parsed.observe(written, F.count(F.lit(1)).alias("n")).write.parquet(path)
        n_parsed = written.get["n"]
    return {
        "table": table,
        "batch_id": result.batch_id,
        "n_input": result.n_input,
        "n_requests": result.n_requests,
        "jsonl_path": result.jsonl_path,
        "n_parsed": n_parsed,
        "skipped_reason": result.skipped_reason,
        "async": async_mode,
        "counts": result.extra.get("counts"),
    }


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.list_models:
        for key, concrete in sorted(ALIASES.items()):
            print(f"{key} -> {concrete}")
        for m in sorted(CATALOG):
            print(m)
        return 0

    if args.list_tables:
        for t in _data_tables(args.data_dir):
            print(t)
        return 0

    orch = orchestrator(args.output_dir, batch_mock=args.batch_mock)

    if args.resume:
        entry = orch.resume(args.resume)
        print(json.dumps({args.resume: entry}, indent=2))
        return 0 if entry is not None else 1

    if args.check_outputs:
        print(json.dumps(orch.auto_resume_pending(), indent=2))
        return 0

    tables = _resolve_tables(args)
    if not tables:
        print("no tables selected (use --table or a config file)", file=sys.stderr)
        return 2

    spark = get_spark("batch_public_spark-cli")

    # X5: one cycle per table, sequential like the reference
    # (main.py:658-702); >1 table forces async (main.py:686-693).
    rc = 0
    for table in tables:
        summary = run_table(
            spark, orch, table,
            data_dir=args.data_dir, hours=args.hours, model=args.model,
            id_col=args.id_col, test_only=args.test,
            async_mode=args.async_mode or len(tables) > 1,
        )
        print(json.dumps(summary))
        if summary["skipped_reason"] not in (None, "no new rows"):
            rc = 1
    return rc


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
