"""Round-4 temporal analytics: hypertable-style gapfill + LOCF, SCD
type-2 history construction, RFM customer segmentation, and robust
(median/MAD) outlier gating.

These are the time-series / warehouse-maintenance operations a 100 TB
event lake needs beyond plain windowing: a dense time grid with
last-observation-carried-forward (the TimescaleDB ``time_bucket_gapfill``
+ ``locf`` shape), slowly-changing-dimension interval tables built from an
append-only event log, and quartile segmentation. Oracle discipline per
plans.registry: decimal-exact measures, round-6 ratios, string-formatted
timestamps, integer-arithmetic ranking wherever a float boundary could
flip a comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from batch_public_spark.plans.lint import bounded_window_key
from batch_public_spark.plans.registry import query
from batch_public_spark.sources.tables import cut
from batch_public_spark.sources.tables import inline_rows
from batch_public_spark.sources.tables import load_table as t

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


@query(
    "events_gapfill_locf",
    oracle="""
    WITH hi AS (SELECT date_trunc('hour', max(ts)) AS hi FROM events),
    lo AS (SELECT event_type, date_trunc('hour', min(ts)) AS lo
           FROM events GROUP BY 1),
    grid AS (SELECT event_type,
                    unnest(generate_series(lo.lo, hi.hi, INTERVAL 1 HOUR)) AS bucket
             FROM lo CROSS JOIN hi),
    agg AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS av
      FROM events GROUP BY 1, 2
    )
    SELECT g.event_type,
           strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           coalesce(a.n, 0) AS n_events,
           last_value(a.av IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_locf
    FROM grid g
    LEFT JOIN agg a ON a.event_type = g.event_type AND a.bucket = g.bucket
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket gapfill with last-observation-carried-forward: a dense
    hourly grid per event_type over the data's own time range; empty
    buckets get count 0 and the most recent non-null hourly average
    (TimescaleDB ``time_bucket_gapfill`` + ``locf`` semantics).

    Spark-first: one hash aggregation per (type, hour); the grid is
    ``sequence(lo_type, hi, 1 hour)`` exploded from a per-type bounds
    aggregate (each type's grid starts at its own first observation, so
    LOCF never sees a null-before-first-value row) — grid size is
    |types| x |hours|, independent of row count, so at 100 TB the dense
    side stays small while the event scan does all the heavy lifting in
    one pass. LOCF is ``last(ignorenulls)`` over a window partitioned by
    event_type — never a global sort. The hourly average goes through
    DECIMAL so the value LOCF carries is bit-identical cross-engine."""
    e = t(spark, sf_dir, "events")
    agg = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("value"),
            6,
        ).alias("av"),
    )
    # Per-type grid start at the type's first observed hour (so LOCF always
    # has a prior observation — no NULL-before-first-value rows), global end.
    hi = e.agg(F.date_trunc("hour", F.max("ts")).alias("hi"))
    lo = e.groupBy("event_type").agg(F.date_trunc("hour", F.min("ts")).alias("lo"))
    grid = lo.crossJoin(F.broadcast(hi)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("bucket"),
    )
    joined = grid.join(agg, ["event_type", "bucket"], "left")
    locf = W.partitionBy("event_type").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return joined.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.last("av", ignorenulls=True).over(locf).alias("avg_value_locf"),
    )


@query(
    "scd2_event_type_history",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), runs AS (
      SELECT user_id, ts, event_id, event_type FROM ordered
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type,
           strftime(ts, '{_TS_FMT_DUCK}') AS valid_from,
           strftime(lead(ts) OVER w, '{_TS_FMT_DUCK}') AS valid_to,
           CAST(row_number() OVER w AS BIGINT) AS version,
           lead(ts) OVER w IS NULL AS is_current
    FROM runs WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 interval construction from an append-only event log:
    collapse each user's consecutive same-type runs into validity
    intervals [valid_from, valid_to) with a version counter and an
    is_current flag on the open interval — the standard dimension-history
    build every lakehouse runs nightly.

    Spark-first: lag to detect change points, filter, then lead +
    row_number over the surviving run-starts — three window functions, ONE
    shuffle on user_id shared by all of them (same partition key and
    ordering), no self-join against the "next row". At 100 TB this is the
    canonical plan: per-user history fits a partition and the filter
    between the two window stages shrinks data before the second sort."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    runs = e.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    nxt = F.lead("ts").over(w)
    return runs.select(
        "user_id",
        "event_type",
        F.date_format("ts", _TS_FMT_SPARK).alias("valid_from"),
        F.date_format(nxt, _TS_FMT_SPARK).alias("valid_to"),
        F.row_number().over(w).cast("bigint").alias("version"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "cust_rfm_segments",
    oracle="""
    WITH anchor AS (SELECT CAST(max(o_orderdate) AS DATE) AS mx FROM orders),
    per AS (
      SELECT o_custkey,
             CAST(anchor.mx - CAST(max(o_orderdate) AS DATE) AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS freq,
             sum(CAST(o_totalprice AS DECIMAL(18,4))) AS mon
      FROM orders CROSS JOIN anchor GROUP BY o_custkey, anchor.mx
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
    scored AS (
      SELECT o_custkey, mon,
             1 + (row_number() OVER (ORDER BY recency_days, o_custkey) - 1) * 4 // n.n AS r,
             1 + (row_number() OVER (ORDER BY freq DESC, o_custkey) - 1) * 4 // n.n AS f,
             1 + (row_number() OVER (ORDER BY mon DESC, o_custkey) - 1) * 4 // n.n AS m
      FROM per CROSS JOIN n
    )
    SELECT concat('R', r, 'F', f, 'M', m) AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(sum(mon), 2) AS DOUBLE) AS total_monetary
    FROM scored GROUP BY 1
    """,
)
def cust_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile-score every customer on Recency (days
    since last order), Frequency (order count), and Monetary (decimal
    spend), label segments "R{r}F{f}M{m}", and roll up customer count and
    total spend per segment.

    Quartiles are assigned by explicit integer arithmetic on row_number —
    ``1 + (rank-1)*4 div n`` — never by interpolated percentile
    boundaries, so a customer sitting at a float boundary cannot score
    differently across engines. The three rank windows run over the
    PER-CUSTOMER aggregate (|customers| rows, not |orders|); at 100 TB
    scale the drop-in replacement is approx_percentile thresholds
    (computed map-side, broadcast, compared per row) — the segment
    roll-up below is unchanged. Ordering carries o_custkey as a total
    tie-break so equal metrics rank deterministically."""
    o = t(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("mx"))
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count("*").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("mon"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.col("mx"), F.col("last_order")).cast("bigint").alias("recency_days"),
            "freq",
            "mon",
        )
    )
    n = per.agg(F.count("*").alias("n"))

    # bounded_window_key (see plans.lint): acknowledges the single-partition
    # rank over the bounded per-customer aggregate, non-foldably.
    def score(order_cols):
        w = W.partitionBy(bounded_window_key(F.col("o_custkey"))).orderBy(*order_cols)
        # Integer quartile assignment: 1 + (rank-1)*4 div n. floor() on an
        # exact small-integer division is engine-identical.
        return (1 + F.floor((F.row_number().over(w) - 1) * 4 / F.col("n"))).cast("int")

    scored = per.crossJoin(F.broadcast(n)).select(
        "o_custkey",
        "mon",
        score([F.col("recency_days"), F.col("o_custkey")]).alias("r"),
        score([F.desc("freq"), F.col("o_custkey")]).alias("f"),
        score([F.desc("mon"), F.col("o_custkey")]).alias("m"),
    )
    return scored.groupBy(
        F.concat(F.lit("R"), "r", F.lit("F"), "f", F.lit("M"), "m").alias("segment")
    ).agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.round(F.sum("mon"), 2).cast("double").alias("total_monetary"),
    )


@query(
    "dq_orders_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT o_orderpriority,
             round(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 6) AS med
      FROM orders GROUP BY 1
    ), dev AS (
      SELECT o.o_orderpriority,
             round(CAST(quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS DOUBLE), 6) AS mad
      FROM orders o JOIN med m USING (o_orderpriority) GROUP BY 1
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN abs(o.o_totalprice - m.med)
                              > round(3 * 1.4826 * d.mad, 6)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(m.med, 2) AS median_price,
           round(d.mad, 2) AS mad_price
    FROM orders o JOIN med m USING (o_orderpriority) JOIN dev d USING (o_orderpriority)
    GROUP BY o.o_orderpriority, m.med, d.mad
    """,
)
def dq_orders_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate: per order priority, flag orders whose absolute
    deviation from the group median exceeds 3 x 1.4826 x MAD (the
    median-absolute-deviation rule — resistant to the very outliers it
    hunts, unlike z-scores). Complements dq_orders_constraints (rule
    checks) with a distributional check.

    Spark-first: two grouped exact-percentile aggregations (median, then
    MAD over re-joined deviations) + one conditional-count pass — three
    shuffles on the 5-value priority key, with the 5-row median/MAD tables
    broadcast back (no hint: adaptive execution picks the broadcast from
    their runtime size). Both median and MAD are ROUNDED to 6 dp before the
    threshold comparison so a value at an interpolation boundary cannot
    flip the count across engines. At 100 TB swap percentile for
    approx_percentile(1e-4 accuracy): the plan shape is unchanged."""
    o = t(spark, sf_dir, "orders")
    # The 5-row median and MAD frames are re-joined against the scan by
    # every later stage — uncut, each join re-inlines the upstream
    # percentile aggregation (and its own orders scan) into the consumer
    # (7 inlined scans total; the three-pass shape itself is the MAD
    # algorithm). Cutting both frames bounds it at the algorithmic three.
    med = (
        o.groupBy("o_orderpriority")
        .agg(F.round(F.percentile(F.col("o_totalprice"), F.lit(0.5)), 6).alias("med"))
        .transform(cut)
    )
    dev = (
        o.join(med, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.percentile(F.abs(F.col("o_totalprice") - F.col("med")), F.lit(0.5)), 6
            ).alias("mad")
        )
        .transform(cut)
    )
    thresh = F.round(F.lit(3) * F.lit(1.4826) * F.col("mad"), 6)
    return (
        o.join(med, "o_orderpriority")
        .join(dev, "o_orderpriority")
        .groupBy("o_orderpriority", "med", "mad")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(
                F.when(F.abs(F.col("o_totalprice") - F.col("med")) > thresh, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            "n_outliers",
            F.round("med", 2).alias("median_price"),
            F.round("mad", 2).alias("mad_price"),
        )
    )


@query(
    "window_rolling_7day_spend",
    oracle="""
    SELECT o_orderkey,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE) - DATE '1990-01-01'
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS spend_7d
    FROM orders
    """,
)
def window_rolling_7day_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day spend per customer via a RANGE window frame: for
    every order, the customer's total spend over the trailing week —
    RANGE (value-based) frames are the time-series windowing mode ROWS
    frames can't express when orders per day vary.

    Spark-first: ``rangeBetween(-6, 0)`` over an integer day number
    (days since an epoch date — value-based frames need a numeric
    ordering key, and integer days sidestep timestamp-unit ambiguity
    cross-engine). One shuffle on o_custkey, per-customer sort; the frame
    is evaluated with a sliding accumulator, not per-row rescans. Spend
    goes through DECIMAL so trailing sums are exact. Same-day peer rows
    are included together by RANGE semantics in both engines."""
    o = t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.to_date(F.lit("1990-01-01")))
    w = (
        W.partitionBy("o_custkey")
        .orderBy(day.alias("day_num"))
        .rangeBetween(-6, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w), 2)
        .cast("double")
        .alias("spend_7d"),
    )


@query(
    "cdc_snapshot_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,4)) AS price
      FROM orders WHERE o_orderkey % 2 = 0
    ), changes AS (
      -- updates: +10% on every 7th base key; deletes: every 11th base key;
      -- inserts: the odd keys (absent from base)
      SELECT k, CAST(round(price * 1.1, 4) AS DECIMAL(18,4)) AS price, 'U' AS op
      FROM base WHERE k % 7 = 0 AND k % 11 <> 0
      UNION ALL
      SELECT k, NULL, 'D' FROM base WHERE k % 11 = 0
      UNION ALL
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)), 'I'
      FROM orders WHERE o_orderkey % 2 = 1
    ), merged AS (
      SELECT coalesce(c.k, b.k) AS k,
             CASE WHEN c.op = 'D' THEN NULL
                  WHEN c.op IS NOT NULL THEN c.price
                  ELSE b.price END AS price,
             CASE WHEN c.op = 'D' THEN 'deleted'
                  WHEN c.op = 'U' THEN 'updated'
                  WHEN c.op = 'I' THEN 'inserted'
                  ELSE 'unchanged' END AS outcome
      FROM base b FULL OUTER JOIN changes c ON b.k = c.k
    )
    SELECT outcome,
           CAST(count(*) AS BIGINT) AS n,
           coalesce(CAST(round(sum(price), 2) AS DOUBLE), 0.0) AS total_price
    FROM merged GROUP BY outcome
    """,
)
def cdc_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE semantics on plain parquet: apply a change batch
    (inserts / updates / deletes, derived deterministically from the
    orders table itself) onto a base snapshot via one full-outer join and
    per-row outcome classification — the exact row-matching logic of
    Delta/Iceberg ``MERGE INTO`` (the table-format upgrade path of the
    pipeline ledger, pipeline.state), runnable on any lake layout.

    Spark-first: ONE full-outer sort-merge join on the key — never
    per-change point lookups; outcome classification and the audit
    roll-up are projections over the join. At 100 TB the change batch is
    typically <<1% of base, so the real deployment partitions base by
    key range and joins only touched partitions (partition pruning from
    the change-key min/max) — the join shape here is that inner loop."""
    o = t(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
    )
    updates = base.filter((F.col("k") % 7 == 0) & (F.col("k") % 11 != 0)).select(
        "k",
        F.round(F.col("price") * 1.1, 4).cast("decimal(18,4)").alias("price"),
        F.lit("U").alias("op"),
    )
    deletes = base.filter(F.col("k") % 11 == 0).select(
        "k", F.lit(None).cast("decimal(18,4)").alias("price"), F.lit("D").alias("op")
    )
    inserts = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
        F.lit("I").alias("op"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    b, c = base.alias("b"), changes.alias("c")
    merged = b.join(c, F.col("b.k") == F.col("c.k"), "full_outer").select(
        F.when(F.col("c.op") == "D", F.lit(None).cast("decimal(18,4)"))
        .when(F.col("c.op").isNotNull(), F.col("c.price"))
        .otherwise(F.col("b.price"))
        .alias("price"),
        F.when(F.col("c.op") == "D", "deleted")
        .when(F.col("c.op") == "U", "updated")
        .when(F.col("c.op") == "I", "inserted")
        .otherwise("unchanged")
        .alias("outcome"),
    )
    return merged.groupBy("outcome").agg(
        F.count("*").cast("bigint").alias("n"),
        # deleted rows carry NULL price; the group total is 0 by definition
        F.coalesce(F.round(F.sum("price"), 2).cast("double"), F.lit(0.0)).alias(
            "total_price"
        ),
    )


@query(
    "mv_incremental_refresh",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderpriority
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-priority (count,
    decimal-sum) MV is refreshed by combining yesterday's PARTIAL
    aggregates with the delta's partial aggregates — re-aggregating two
    tiny summary tables instead of rescanning the base. The oracle is the
    FULL recompute over all rows, so what's hashed is the algebraic
    claim itself: partial-agg merge == full recompute (count/sum are the
    canonical self-maintainable aggregates; max/min join them, avg
    derives, and DISTINCT/percentile famously do NOT — those need
    sketches or recompute).

    This is THE 100 TB daily pattern: the nightly refresh touches
    |delta| + |MV| rows, never |base|. Both partial aggregations are
    map-side-combined shuffles on the same key; the merge is a union of
    two |groups|-row tables."""
    o = t(spark, sf_dir, "orders")
    split = F.to_date(F.lit("1997-01-01"))

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("s"),
        )

    base_mv = partial(o.filter(F.col("o_orderdate").cast("date") < split))
    delta_mv = partial(o.filter(F.col("o_orderdate").cast("date") >= split))
    return (
        base_mv.unionByName(delta_mv)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.round(F.sum("s"), 2).cast("double").alias("total"),
        )
    )


def _z_interleave(x, y, bits: int = 8):
    """16-bit Morton code: interleave the low `bits` of x (even positions)
    and y (odd positions) with plain integer arithmetic — engine-portable
    (same expression is spelled in the oracle SQL)."""
    z = F.lit(0)
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


@query(
    "maintenance_zorder_stats",
    oracle="""
    WITH coded AS (
      SELECT user_id % 256 AS ux,
             CAST(strftime(ts, '%d') AS BIGINT) % 256 AS dy,
             user_id, CAST(strftime(ts, '%d') AS BIGINT) AS day
      FROM events
    ), z AS (
      SELECT user_id, day,
             ( ((ux >> 0) & 1) << 0)  + ( ((dy >> 0) & 1) << 1)
           + ( ((ux >> 1) & 1) << 2)  + ( ((dy >> 1) & 1) << 3)
           + ( ((ux >> 2) & 1) << 4)  + ( ((dy >> 2) & 1) << 5)
           + ( ((ux >> 3) & 1) << 6)  + ( ((dy >> 3) & 1) << 7)
           + ( ((ux >> 4) & 1) << 8)  + ( ((dy >> 4) & 1) << 9)
           + ( ((ux >> 5) & 1) << 10) + ( ((dy >> 5) & 1) << 11)
           + ( ((ux >> 6) & 1) << 12) + ( ((dy >> 6) & 1) << 13)
           + ( ((ux >> 7) & 1) << 14) + ( ((dy >> 7) & 1) << 15) AS zval
      FROM coded
    )
    SELECT CAST(zval >> 10 AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(user_id) AS BIGINT) AS min_user,
           CAST(max(user_id) AS BIGINT) AS max_user,
           CAST(min(day) AS BIGINT) AS min_day,
           CAST(max(day) AS BIGINT) AS max_day
    FROM z GROUP BY 1
    """,
)
def maintenance_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering audit: interleave the bits of
    two query dimensions (user bucket, day-of-month) into a 16-bit
    z-value, bucket the curve, and report per-bucket min/max of BOTH
    dimensions — the file-level min/max stats a lakehouse OPTIMIZE
    ZORDER produces, and exactly what makes 2-dimensional data skipping
    work (each z-bucket bounds a small rectangle in (user, day) space,
    so a predicate on EITHER dimension prunes most buckets; single-column
    sorting bounds only one).

    Spark-first: the Morton code is a pure unrolled integer expression
    (shiftleft/shiftright/bitwiseAND — whole-stage codegen, no UDF); at
    100 TB you'd ``repartitionByRange(zval)`` + ``sortWithinPartitions``
    before the write so parquet row-group stats inherit the rectangles.
    The oracle spells the identical arithmetic in SQL."""
    e = t(spark, sf_dir, "events")
    day = F.date_format("ts", "dd").cast("bigint")
    coded = e.select(
        (F.col("user_id") % 256).alias("ux"),
        (day % 256).alias("dy"),
        "user_id",
        day.alias("day"),
    )
    z = coded.select(
        "user_id", "day", _z_interleave(F.col("ux"), F.col("dy")).alias("zval")
    )
    return z.groupBy(F.shiftright("zval", 10).cast("bigint").alias("z_bucket")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("user_id").cast("bigint").alias("min_user"),
        F.max("user_id").cast("bigint").alias("max_user"),
        F.min("day").cast("bigint").alias("min_day"),
        F.max("day").cast("bigint").alias("max_day"),
    )


@query(
    "events_hypertable_rollup",
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(date_trunc('week', ts) AS DATE) AS w,
             value
      FROM events
    )
    SELECT event_type,
           CASE WHEN GROUPING(d) = 0 THEN 'day'
                WHEN GROUPING(w) = 0 THEN 'week'
                ELSE 'type' END AS grain,
           coalesce(strftime(d, '%Y-%m-%d'), strftime(w, '%Y-%m-%d'), 'ALL') AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
    FROM base
    GROUP BY GROUPING SETS ((event_type, d), (event_type, w), (event_type))
    """,
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: day, week, and
    per-type totals for the event stream in ONE pass via GROUPING SETS —
    the TimescaleDB continuous-aggregate / druid-rollup shape, with
    ``GROUPING()`` disambiguating the grain of each output row.

    Spark-first: GROUPING SETS expands to one aggregation whose grouping
    key carries the set id — one shuffle produces all three grains
    (versus three scans for three GROUP BYs); measures go through
    DECIMAL so every grain's totals are exact and the week total equals
    the sum of its days. At 100 TB this materializes the rollup a
    dashboard reads, refreshed incrementally per mv_incremental_refresh."""
    e = t(spark, sf_dir, "events")
    e.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("w"),
        "value",
    ).createOrReplaceTempView("events_rollup_base")
    return spark.sql(
        """
        SELECT event_type,
               CASE WHEN grouping(d) = 0 THEN 'day'
                    WHEN grouping(w) = 0 THEN 'week'
                    ELSE 'type' END AS grain,
               coalesce(date_format(d, 'yyyy-MM-dd'),
                        date_format(w, 'yyyy-MM-dd'), 'ALL') AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
        FROM events_rollup_base
        GROUP BY GROUPING SETS ((event_type, d), (event_type, w), (event_type))
        """
    )


@query(
    "join_range_containment",
    oracle="""
    WITH promos(promo, start_d, end_d) AS (
      VALUES ('winter96', DATE '1996-01-01', DATE '1996-04-01'),
             ('summer96', DATE '1996-06-01', DATE '1996-09-01'),
             ('winter97', DATE '1997-01-01', DATE '1997-04-01'),
             ('summer97', DATE '1997-06-01', DATE '1997-09-01')
    )
    SELECT p.promo,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           coalesce(CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
                         AS DOUBLE), 0.0) AS revenue
    FROM promos p LEFT JOIN orders o
      ON CAST(o.o_orderdate AS DATE) >= p.start_d
     AND CAST(o.o_orderdate AS DATE) < p.end_d
    GROUP BY p.promo
    """,
)
def join_range_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment RANGE join: each order matched to the promo period
    whose [start, end) interval contains its date — the canonical range
    join (point-in-interval) next to the as-of join and the banded
    interval self-join.

    Spark-first: the interval dimension is an inline VALUES relation
    (4 rows) that BROADCASTS; the fact table streams through one
    broadcast nested-loop probe against the date band — at any scale
    the fact side scans once and never shuffles. For interval dims too
    large to broadcast, the standard refinement buckets both sides by
    coarse time grain and equi-joins the bucket key with the band as a
    residual filter (the join_orders_within_week shape). LEFT join from
    the dim keeps empty promos visible with zero totals."""
    o = t(spark, sf_dir, "orders")
    promos = inline_rows(
        spark,
        "promo string, start_d string, end_d string",
        [
            ("winter96", "1996-01-01", "1996-04-01"),
            ("summer96", "1996-06-01", "1996-09-01"),
            ("winter97", "1997-01-01", "1997-04-01"),
            ("summer97", "1997-06-01", "1997-09-01"),
        ],
    ).select(
        "promo",
        F.to_date("start_d").alias("start_d"),
        F.to_date("end_d").alias("end_d"),
    )
    od = o.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
    )
    joined = F.broadcast(promos).join(
        od, (F.col("d") >= F.col("start_d")) & (F.col("d") < F.col("end_d")), "left"
    )
    return joined.groupBy("promo").agg(
        F.count("o_orderkey").cast("bigint").alias("n_orders"),
        F.coalesce(F.round(F.sum("price"), 2).cast("double"), F.lit(0.0)).alias(
            "revenue"
        ),
    )
