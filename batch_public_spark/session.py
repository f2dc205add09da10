"""SparkSession factory.

Single place where execution knobs live so every entry point (tests, bench,
driver contract, CLI) gets the same tuned session.

Scale posture: on a real cluster these settings come from spark-submit conf;
locally we default shuffle partitions to the core count (the 200 default
over-parallelizes small local runs and under-parallelizes 100 TB — at scale
you'd size ``spark.sql.shuffle.partitions`` ≈ total-cores×2-3 and lean on AQE
coalescing, which we enable here).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "batch_public_spark", *, extra_conf: dict | None = None) -> SparkSession:
    """Build the engine's SparkSession, or return the active one unchanged
    (its caller's conf stands; ``extra_conf`` applies only to a new one).

    - Local master and driver memory only when this process was not
      launched by spark-submit (``PYSPARK_GATEWAY_PORT`` unset); under
      spark-submit its ``--master`` and driver memory stand.
    - AQE on: runtime partition coalescing, skew-join splitting, dynamic
      join-strategy switch — load-bearing at 100 TB where static planning
      misestimates.
    - Arrow on: every pandas_udf / mapInPandas / toPandas crossing is
      columnar-batched instead of row-pickled.
    - UTC session timezone: parity with the DuckDB oracle (duckdb timestamps
      are UTC-naive) and with the reference's naive-ISO→UTC assumption
      (reference dynamo_fetcher.py:235-237).
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet stores ts as TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long (nanos) and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
