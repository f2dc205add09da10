"""Batch table sources over the driver-generated parquet star schema.

Reference parity: the reference's only batch source is a paginated DynamoDB
Scan with client-side filtering (reference dynamo_fetcher.py:171-373, S1 in
SURVEY §2a). Here the source abstraction is Spark's DataSource V2 parquet
reader — columnar, with predicate pushdown, column pruning and partition
pruning supplied by Catalyst. A production DynamoDB path would be the
S3-export → parquet route (preferred at 100 TB) or a parallel Segment scan
mapped one-segment-per-partition; both land in the same ``load_table`` shape.

The catalog-listing affordance (reference main.py:624-634, S2) is the
CLI's ``--list-tables``, which lists the parquet tables in the data dir.

Lineage cuts go through ``cut``, the one local checkpoint in the
package; its docstring is the note of record on their scale posture.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Full driver testdata catalog (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Resolved-plan memo for load_table: {session → {(abs sf_dir, table) → DF}}.
# Weak keys: entries die with their session; a fresh session (even in the
# same process) resolves from scratch. Holds logical plans only — no data.
_PLAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table. Lazy: no IO until an action runs, so filters
    and projections applied downstream push into the parquet scan.

    The RESOLVED DataFrame (an unexecuted logical plan) is memoized per
    (session, dir, table): ``spark.read.parquet`` costs ~100-150 ms per
    call in datasource resolution + footer schema inference + file
    listing, a fixed tax every query in the registry paid on every
    construction. This is metadata/plan caching — exactly what a catalog
    table (`spark.table`) gives a production job via the metastore — and
    caches NO row data: every action still scans the parquet files. Keyed
    weakly by the session object so driver-built vanilla sessions get
    their own entries and stopped sessions drop out."""
    per = _PLAN_CACHE.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    cached = per.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # Must work on ANY session (the driver builds its own), so set the
        # read conf at runtime rather than relying on our session factory.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # ts's physical type varies by testdata generation. Normalize every
        # variant to TimestampType so batch and stream (streaming.ops.
        # read_events_stream) agree:
        #  - TIMESTAMP(NANOS): surfaces as epoch-nanos bigint under
        #    nanosAsLong; truncate to micros (exactly what DuckDB's
        #    micro-precision timestamps do) and restore TimestampType.
        #  - TIMESTAMP(MICROS): surfaces as TIMESTAMP_NTZ; interpret the
        #    wall time as UTC via make_timestamp's explicit-zone form,
        #    which is independent of the caller's session timezone (a
        #    plain NTZ→LTZ cast would shift the instant under a non-UTC
        #    session, and a table loader must not mutate session conf).
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer `div`, NOT `/`: float division loses the last microsecond
            # at epoch-nanos magnitude (~1.7e18 overflows double's 53-bit mantissa)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(ts_type, T.TimestampType):
            df = df.withColumn("ts", F.expr(_NTZ_AS_UTC))
    per[key] = df
    return df


def cut(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage: the one lineage cut in the package.

    A lazy local checkpoint (``eager=False``), used as a WITHIN-QUERY cut
    wherever one subtree feeds multiple consumers (conformal family,
    pca_power, rouge, bm25, q-family pair aggregates) or a plan must be
    truncated (iterative graph/trainer loops). Each call site states its
    reason in one line. It materializes the first execution's blocks to
    EXECUTOR storage and pins them there: no lineage is kept, so an
    executor loss kills the job where lineage would have recovered it, and
    the pinned blocks occupy executor memory/disk for the query's
    lifetime. That trade is correct for this engine's bench contract
    (single-process local mode — executors cannot be lost independently,
    and the cut is always inside the timed region, never cross-run
    caching). Under AQE the lazy form still launches the cut subtree's
    shuffle-map job when the cut is built, before any action.

    At real cluster scale, swap load-bearing cuts for persisted scratch
    tables (write parquet + read back: fault-tolerant, spillable,
    shareable across jobs) or ``reliableCheckpoint`` when a checkpoint dir
    exists, keeping localCheckpoint only for small frames whose
    recompute-on-loss is acceptable — an edit to this one function."""
    return df.localCheckpoint(eager=False)


# Session-timezone-independent TIMESTAMP_NTZ → TIMESTAMP(LTZ) conversion:
# field extraction from NTZ carries no zone, and make_timestamp's explicit
# 'UTC' argument fixes the interpretation (extract(SECOND) keeps the
# fractional microseconds).
_NTZ_AS_UTC = (
    "make_timestamp(year(ts), month(ts), day(ts), hour(ts), minute(ts), "
    "extract(SECOND FROM ts), 'UTC')"
)


_SCRATCH_DIRS: set = set()


def scratch_dir(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Session-scoped scratch path for write→read round-trip queries:
    keyed by the Spark applicationId so concurrent sessions (bench +
    pytest on one box) never overwrite each other's intermediates, and
    stable within a session so re-runs reuse mode('overwrite'). Every
    path handed out is removed at interpreter exit — per-session names
    would otherwise accumulate in the temp directory across runs."""
    app = spark.sparkContext.applicationId.replace("-", "_")
    sf = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"bps_{tag}_{sf}_{app}")
    if not _SCRATCH_DIRS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH_DIRS]
        )
    _SCRATCH_DIRS.add(path)
    return path


def inline_rows(spark: SparkSession, schema: str, rows: list[tuple]) -> DataFrame:
    """Literal in-code fixture/dim table as a JVM-side relation (the
    values_inline_dim_join idiom, generalized): ``createDataFrame`` ships
    rows through a Python RDD — the plan scans ``ExistingRDD`` and every
    action pays a Python-worker wave plus pickle round-trip just to read
    constants, and the bench classifies the whole query as a
    Python-boundary plan. An ``inline`` over a literal array of structs
    is a pure JVM generator over plan constants (guide §4.1: remove the
    boundary), built with ``lit``/``struct`` so no SQL-string escaping is
    involved. Each cell is cast to the declared column type, matching
    ``createDataFrame``'s schema coercion (None cells included).

    ``schema`` is the usual DDL string ("case_id int, text string");
    nested types work wherever ``lit`` accepts the cell (scalars, lists).
    For literal tables only — data-sized frames keep real sources."""
    fields = [f.strip() for f in schema.split(",") if f.strip()]
    names = [f.split(None, 1)[0] for f in fields]
    types = [f.split(None, 1)[1] for f in fields]
    structs = [
        F.struct(
            *[
                F.lit(cell).cast(tp).alias(nm)
                for cell, nm, tp in zip(row, names, types)
            ]
        )
        for row in rows
    ]
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Ensure ``df`` has at least ``min_parts`` (default: cluster default
    parallelism) partitions before compute-heavy narrow stages.

    Rationale: Spark splits parquet scans at ROW-GROUP boundaries; a corpus
    written as few large row groups scans as few tasks, serializing every
    downstream per-row stage (signature UDFs, shingle hashing) no matter how
    many cores exist. When per-row compute dwarfs scan cost, one small
    round-robin exchange of the raw rows buys full-width parallelism.

    Self-disabling at scale: a real multi-file corpus already scans as
    thousands of splits, so the width check makes this a no-op exactly when
    the exchange would be waste. The check reads Catalyst's plan statistics
    (``optimizedPlan().stats().sizeInBytes`` / ``files.maxPartitionBytes``
    ≈ scan split count) — pure planning, no job, no RDD conversion (a
    ``df.rdd.getNumPartitions()`` probe costs ~1 s of physical planning per
    call). The stats accessor goes through JVM internals, so it is
    feature-tested ONCE per process; when unavailable (API moved, Connect),
    the width estimate falls back to public ``inputFiles()`` sizing, and
    with no information at all spread() is a NO-OP — never an unconditional
    exchange on every call. Do NOT use ahead of scan-bound stages (plain
    aggregates) — there the read IS the work and an exchange only adds IO."""
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    max_bytes = _max_partition_bytes(spark)
    size = _plan_size_bytes(df)
    if size is not None:
        est_parts = max(1, size // max(max_bytes, 1))
    else:
        est_parts = _scan_file_parts(df, max_bytes)
        if est_parts is None:
            # No width signal at all (streaming plan, local relation):
            # leaving a narrow plan narrow is recoverable; injecting a
            # shuffle into every caller is not.
            return df
    if est_parts >= target:
        return df
    return df.repartition(target)


# Capability of the Catalyst plan-stats accessor: None = not yet probed,
# False = accessor unavailable in this runtime (API moved, Spark Connect).
# Probed ONCE per process on a trivial known-good plan, so a per-plan
# failure (e.g. a streaming DataFrame) can neither disable the accessor for
# the rest of the process nor degrade into per-call blanket excepts.
_PLAN_STATS_OK: bool | None = None


def _plan_stats_available(spark: SparkSession) -> bool:
    global _PLAN_STATS_OK
    if _PLAN_STATS_OK is None:
        try:
            probe = spark.range(1)
            int(str(probe._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
            _PLAN_STATS_OK = True
        except Exception:
            _PLAN_STATS_OK = False
    return _PLAN_STATS_OK


def _plan_size_bytes(df: DataFrame) -> int | None:
    if not _plan_stats_available(df.sparkSession):
        return None
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        # Accessor exists (probed) — this is a per-plan condition
        # (streaming plan, unanalyzable relation). Fall through to the
        # public-API estimate for THIS df only.
        return None


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if raw.endswith(suffix):
            raw = raw[: -len(suffix)]
            mult = m
            break
    try:
        return max(1, int(raw) * mult)
    except ValueError:
        return 128 << 20


def _scan_file_parts(df: DataFrame, max_bytes: int) -> int | None:
    """Public-API width estimate: bytes of the scan's input files / split
    size. Local paths are sized directly; for remote filesystems assume at
    least one split per file (an undercount only when single files exceed
    the split size — acceptable for a lower bound)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        p = f[7:] if f.startswith("file://") else (f[5:] if f.startswith("file:") else f)
        if not os.path.exists(p):
            return max(1, len(files))
        total += os.path.getsize(p)
    return max(1, total // max(max_bytes, 1))


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view so spark.sql() queries and
    spark.catalog.listTables() (reference S2) work against the catalog.

    ``SPARK_GRAFT_SYNTH_PARTSUPP=1`` additionally registers a ``partsupp``
    view (real file when present, else synthesized from lineitem — see
    sources.partsupp) so spec-shaped TPC-H queries can run."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    if os.environ.get("SPARK_GRAFT_SYNTH_PARTSUPP") == "1":
        from batch_public_spark.sources.partsupp import load_partsupp

        load_partsupp(spark, sf_dir).createOrReplaceTempView("partsupp")


def read_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files were written under EVOLVING
    schemas (columns added over time): ``mergeSchema`` unions the footers
    into the superset schema; rows from older files surface the missing
    columns as NULL.

    Scale note: schema merging reads every footer — on a very large file
    count, pin the canonical schema with ``spark.read.schema(...)`` instead
    and let parquet's by-name column resolution do the rest; this helper is
    the discovery path."""
    return spark.read.option("mergeSchema", "true").parquet(path)
