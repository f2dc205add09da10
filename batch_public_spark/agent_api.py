"""Programmatic/agent entry points (reference agent_api.py:12-35).

Thin façade over the CLI's per-table run path for MCP/agent callers:
``run_batch`` (blocking, returns the run summary) and ``resume_batch``.
Same shapes as the reference's, with the Spark session + parquet catalog
replacing the boto3 client."""

from __future__ import annotations

import os
from typing import Any, Optional

from pyspark.sql import SparkSession

from batch_public_spark.cli import orchestrator, run_table
from batch_public_spark.session import get_spark


def run_batch(
    table: str,
    hours: float = 12.0,
    model: str = "nano",
    test_only: bool = False,
    *,
    data_dir: Optional[str] = None,
    output_dir: str = "output",
    spark: Optional[SparkSession] = None,
) -> dict[str, Any]:
    """Blocking orchestrated run for one table (reference run_batch): the
    CLI's summary dict, with the parse stage written under
    ``{output_dir}/parsed``."""
    spark = spark or get_spark("batch_public_spark-agent")
    data_dir = data_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    return run_table(
        spark, orchestrator(output_dir), table,
        data_dir=data_dir, hours=hours, model=model, test_only=test_only,
    )


def resume_batch(batch_id: str, *, output_dir: str = "output") -> Optional[dict]:
    """Close out / report a previously submitted batch (reference
    resume_batch — without the status_data NameError bug, main.py:407)."""
    return orchestrator(output_dir).resume(batch_id)
