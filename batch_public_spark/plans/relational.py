"""Relational query corpus (SURVEY §2b).

The reference implements almost no relational operators (only MAX/COUNT
aggregation, reference main.py:264-274 / jsonl_formatter.py:176-179), so
this module declares the full classical surface over the TPC-H-ish star
schema using built-in DataFrame ops — Catalyst supplies the physical
strategies (broadcast/SMJ/hash agg/partial agg/pushdown).

Scale notes per query are in the docstrings: the point is that every plan
here survives a 1000-executor 100 TB run — dims are broadcast, aggregations
are partial+final, sorts are top-k (TakeOrdered), and nothing collects to
the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from batch_public_spark.plans.registry import query
from batch_public_spark.sources.tables import load_table as t

# Determinism helpers (see registry docstring): exact decimal arithmetic for
# sums/products, double division for ratios, rounded + cast double outputs.
D15 = "decimal(15,4)"  # money / measures
D6 = "decimal(6,4)"  # rates in [0,1] — keeps product widths within 38


def dec(c, typ: str = D15):
    return F.col(c).cast(typ)


def money_sum(expr, alias: str):
    return F.round(F.sum(expr), 2).cast("double").alias(alias)


def ratio(num, den, alias: str):
    return F.round(num.cast("double") / den, 6).alias(alias)


# SQL fragments for the DuckDB oracles, mirroring the helpers above.
def _sql_dec(c, typ="DECIMAL(15,4)"):
    return f"CAST({c} AS {typ})"


REV = f"{_sql_dec('l_extendedprice')} * (1 - {_sql_dec('l_discount', 'DECIMAL(6,4)')})"
CHARGE = f"{REV} * (1 + {_sql_dec('l_tax', 'DECIMAL(6,4)')})"


def _rev_col():
    return dec("l_extendedprice") * (F.lit(1) - dec("l_discount", D6))


def _charge_col():
    return _rev_col() * (F.lit(1) + dec("l_tax", D6))


# ---------------------------------------------------------------------------
# Aggregation spine
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM({_sql_dec('l_quantity')}), 2) AS DOUBLE)      AS sum_qty,
           CAST(ROUND(SUM({_sql_dec('l_extendedprice')}), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM({REV}), 2) AS DOUBLE)                         AS sum_disc_price,
           CAST(ROUND(SUM({CHARGE}), 2) AS DOUBLE)                      AS sum_charge,
           ROUND(CAST(SUM({_sql_dec('l_quantity')}) AS DOUBLE) / COUNT(*), 6)      AS avg_qty,
           ROUND(CAST(SUM({_sql_dec('l_extendedprice')}) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           ROUND(CAST(SUM({_sql_dec('l_discount', 'DECIMAL(6,4)')}) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary (scan→filter→hash agg).

    Scale: partial+final hash agg on 2 low-cardinality keys — near-zero
    shuffle (4 groups); the shipdate filter pushes into the parquet scan.
    """
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum(dec("l_quantity"), "sum_qty"),
        money_sum(dec("l_extendedprice"), "sum_base_price"),
        money_sum(_rev_col(), "sum_disc_price"),
        money_sum(_charge_col(), "sum_charge"),
        ratio(F.sum(dec("l_quantity")), F.count("*"), "avg_qty"),
        ratio(F.sum(dec("l_extendedprice")), F.count("*"), "avg_price"),
        ratio(F.sum(dec("l_discount", D6)), F.count("*"), "avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "agg_distinct_parts",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT (expand + two-phase agg under Catalyst)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "agg_stats_orders",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,4))), 2) AS DOUBLE) AS sum_price,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) / COUNT(*), 6) AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate stats in one pass (min/max raw doubles are exact)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        money_sum(dec("o_totalprice"), "sum_price"),
        ratio(F.sum(dec("o_totalprice")), F.count("*"), "avg_price"),
    )


@query(
    "agg_approx_distinct",
    oracle=None,  # HLL sketches are engine-specific; rows-only check.
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path for ledger
    stats where exact distinct would shuffle the world (SURVEY §4)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "rollup_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM({_sql_dec('l_quantity')}), 2) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (Expand + hash agg)."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(money_sum(dec("l_quantity"), "sum_qty"), F.count("*").alias("n"))
    )


@query(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,4))), 2) AS DOUBLE) AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), money_sum(dec("o_totalprice"), "sum_price"))
    )


@query(
    "grouping_sets_geo",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (n_name), ())
    """,
)
def grouping_sets_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL API (same Catalyst plan as cube/rollup)."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    t(spark, sf_dir, "region").createOrReplaceTempView("region")
    return spark.sql(
        """
        SELECT r_name, n_name, COUNT(*) AS n_customers
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (n_name), ())
        """
    )


@query(
    "pivot_flag_status",
    oracle=f"""
    SELECT l_returnflag,
           CAST(ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN {_sql_dec('l_quantity')} END), 2) AS DOUBLE) AS F,
           CAST(ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN {_sql_dec('l_quantity')} END), 2) AS DOUBLE) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (fixed value list → no extra distinct pass, one shuffle)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum(dec("l_quantity")), 2).cast("double"))
    )


@query(
    "histogram_totalprice",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket, COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed histogram (numeric binning — exact double division)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy(F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(ROUND(SUM({REV}), 2) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY SUM({REV}) DESC, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective dim filter → fact join → agg → top-k.

    Scale: customer (filtered) broadcasts; lineitem⋈orders co-shuffle on
    orderkey; final sort is TakeOrderedAndProject (no global sort).
    """
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-01-01")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev_col()).alias("_rev"))
        .orderBy(F.desc("_rev"), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.round("_rev", 2).cast("double").alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


@query(
    "q5_region_revenue",
    oracle=f"""
    SELECT n_name, CAST(ROUND(SUM({REV}), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join.

    Scale: region/nation/supplier/customer are dims → broadcast; only
    lineitem⋈orders shuffles (co-partitioned on orderkey). Catalyst+AQE
    reorders and picks broadcast automatically under the 64 MB threshold.
    """
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(money_sum(_rev_col(), "revenue"))
    )


@query(
    "join_left_order_counts",
    oracle="""
    SELECT c_custkey, c_name,
           COUNT(o_orderkey) AS n_orders,
           COALESCE(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,4))), 2) AS DOUBLE), 0.0) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.round(F.sum(dec("o_totalprice")), 2).cast("double"), F.lit(0.0)).alias(
                "total_spend"
            ),
        )
    )


@query(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 300000)
    """,
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS) — no row multiplication, build side only keys."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS) — the watermark filter F3 is this in
    spirit (SURVEY §2b). The probe side is restricted to URGENT orders:
    in this fixture every customer has at least one order, so the
    unrestricted anti-join returns 0 rows at every SF and its hash-match
    verifies nothing (the r7 vacuous-fixture audit); against the URGENT
    subset a meaningful share of customers survives the anti-join."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_full_outer_daily_priority",
    oracle="""
    WITH u AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS nu
               FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
         h AS (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS nh
               FROM orders WHERE o_orderpriority = '2-HIGH' GROUP BY 1)
    SELECT strftime(COALESCE(u.d, h.d), '%Y-%m-%d') AS day,
           COALESCE(u.nu, 0) AS n_urgent,
           COALESCE(h.nh, 0) AS n_high
    FROM u FULL OUTER JOIN h ON u.d = h.d
    """,
)
def join_full_outer_daily_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two per-day aggregates: days where only one
    priority class ordered surface with the other side null-filled
    (coalesced to 0 so both engines hash identically). Physical plan is a
    sort-merge join — full outer can't broadcast either side."""
    o = t(spark, sf_dir, "orders")
    day = F.date_format("o_orderdate", "yyyy-MM-dd")
    u = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(day.alias("du"))
        .agg(F.count("*").alias("nu"))
    )
    h = (
        o.filter(F.col("o_orderpriority") == "2-HIGH")
        .groupBy(day.alias("dh"))
        .agg(F.count("*").alias("nh"))
    )
    return u.join(h, u.du == h.dh, "full_outer").select(
        F.coalesce(u.du, h.dh).alias("day"),
        F.coalesce(u.nu, F.lit(0)).alias("n_urgent"),
        F.coalesce(h.nh, F.lit(0)).alias("n_high"),
    )


@query(
    "join_broadcast_geo",
    oracle="""
    SELECT n_nationkey, n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_broadcast_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hash join (dim⋈dim; zero shuffle)."""
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@query(
    "join_theta_acctbal",
    oracle="""
    SELECT s_suppkey, COUNT(*) AS n_richer_customers
    FROM supplier JOIN customer ON c_acctbal > s_acctbal
    GROUP BY s_suppkey
    """,
)
def join_theta_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDED theta (non-equi) join — the 100 TB shape for a range
    predicate between two SF-scaled tables (r11 rewrite; the r10 form
    force-broadcast raw supplier into a nested loop, the exact
    unbounded-broadcast class the lint now rejects).

    ``c_acctbal > s_acctbal`` decomposes on fixed-width bands
    (band = floor(acctbal / W)):

    * band(c) > band(s): c_acctbal ≥ band(c)·W ≥ (band(s)+1)·W
      > s_acctbal — always qualifies, so those pairs are NEVER
      materialized: customers pre-aggregate to one count per band
      (≤ ~22 rows over the acctbal domain), a suffix sum over the band
      DOMAIN (bounded_window_key: the window's input is the band table,
      not the population) gives customers-strictly-above-each-band, and
      suppliers hash-join that ≤22-row frame.
    * band(c) = band(s): an EQUI-join on the band key with the theta
      predicate as a residual — shuffles on band; per-band work is
      (|C|/B)·(|S|/B), tuned by the band width.
    * band(c) < band(s): never qualifies; dropped for free.

    No broadcast hint anywhere and no nested loop over a
    population-scale side. The ORACLE is the plain quadratic theta join:
    what is hashed is the claim that banding never changes results."""
    from batch_public_spark.plans.lint import bounded_window_key

    width = 500  # acctbal ∈ [-999.99, 9999.99] → ≤ 22 bands
    s = t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_acctbal", F.floor(F.col("s_acctbal") / width).alias("band")
    )
    c = t(spark, sf_dir, "customer").select(
        "c_acctbal", F.floor(F.col("c_acctbal") / width).alias("band")
    )
    per_band = c.groupBy("band").agg(F.count("*").alias("n_in_band"))
    wsuf = (
        W.partitionBy(bounded_window_key(F.col("band")))
        .orderBy(F.desc("band"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    above = per_band.select(
        "band", F.coalesce(F.sum("n_in_band").over(wsuf), F.lit(0)).alias("n_above")
    )
    higher = s.join(above, "band", "left").select(
        "s_suppkey", F.coalesce(F.col("n_above"), F.lit(0)).alias("n_above")
    )
    same = (
        s.join(c, "band")
        .filter(F.col("c_acctbal") > F.col("s_acctbal"))
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_same"))
    )
    # Inner-join oracle semantics: suppliers richer than every customer
    # (zero qualifying pairs) do not appear.
    return (
        higher.join(same, "s_suppkey", "left")
        .select(
            "s_suppkey",
            (F.col("n_above") + F.coalesce(F.col("n_same"), F.lit(0))).alias(
                "n_richer_customers"
            ),
        )
        .filter(F.col("n_richer_customers") > 0)
    )


@query(
    "join_cross_region_segment",
    oracle="""
    SELECT r_name, seg, COUNT(*) AS n FROM
    (SELECT r_name FROM region) CROSS JOIN
    (SELECT DISTINCT c_mktsegment AS seg FROM customer)
    GROUP BY r_name, seg
    """,
)
def join_cross_region_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS join (cartesian of two tiny dims)."""
    r = t(spark, sf_dir, "region").select("r_name")
    seg = t(spark, sf_dir, "customer").select(F.col("c_mktsegment").alias("seg")).distinct()
    return r.crossJoin(seg).groupBy("r_name", "seg").agg(F.count("*").alias("n"))


@query(
    "join_range_late_shipments",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_late
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY o_orderpriority
    """,
)
def join_range_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi join with a range residual (range predicate evaluated post-probe)."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_late"))
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@query(
    "window_rank_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family over a keyed window (single shuffle on the partition key)."""
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "window_lag_lead_gaps",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           COALESCE(strftime(LAG(o_orderdate) OVER w, '%Y-%m-%d'), '') AS prev_date,
           COALESCE(strftime(LEAD(o_orderdate) OVER w, '%Y-%m-%d'), '') AS next_date,
           COALESCE(date_diff('day', CAST(LAG(o_orderdate) OVER w AS DATE), CAST(o_orderdate AS DATE)), -1) AS gap_days
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lag_lead_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD navigation + inter-order gap computation."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.coalesce(
            F.date_format(F.lag("o_orderdate").over(w), "yyyy-MM-dd"), F.lit("")
        ).alias("prev_date"),
        F.coalesce(
            F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd"), F.lit("")
        ).alias("next_date"),
        F.coalesce(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lag("o_orderdate").over(w).cast("date")
            ).cast("bigint"),
            F.lit(-1).cast("bigint"),
        ).alias("gap_days"),
    )


@query(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS running_spend
    FROM orders
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total with an explicit ROWS frame (exact decimal accumulation)."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(dec("o_totalprice")).over(w), 2).cast("double").alias("running_spend"),
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,4)))
                OVER (PARTITION BY o_custkey
                      ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS spend_30d
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day spend per customer: a value-based RANGE frame (vs the
    row-count frames elsewhere) over epoch-day ordering — the frame is
    defined by day distance, so same-day orders always aggregate together
    regardless of row order (deterministic without a tie-break key)."""
    day = F.unix_date(F.col("o_orderdate").cast("date"))
    w = W.partitionBy("o_custkey").orderBy(day).rangeBetween(-30, 0)
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.round(F.sum(dec("o_totalprice")).over(w), 2).cast("double").alias("spend_30d"),
    )


@query(
    "window_ntile_quartiles",
    oracle="""
    SELECT q, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(15,4))), 2) AS DOUBLE) AS sum_bal
    FROM (SELECT c_acctbal, NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS q FROM customer)
    GROUP BY q
    """,
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing then re-aggregation.

    Scale caveat: an unpartitioned ORDER BY window is a single-task sort; at
    100 TB use approx percentiles instead (percentile_approx) — kept here for
    operator parity."""
    w = W.orderBy("c_acctbal", "c_custkey")
    return (
        t(spark, sf_dir, "customer")
        .select("c_acctbal", F.ntile(4).over(w).alias("q"))
        .groupBy("q")
        .agg(F.count("*").alias("n"), money_sum(dec("c_acctbal"), "sum_bal"))
    )


@query(
    "topk_orders_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k → Catalyst rewrites to TakeOrderedAndProject (per-partition
    heap + driver merge of k), not a full sort."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


@query(
    "topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranked window (one shuffle; AQE handles skew)."""
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        t(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Set operations / distinct
# ---------------------------------------------------------------------------


@query(
    "setop_union_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def setop_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct)."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "setop_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct)."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "setop_except_nations",
    oracle="""
    SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents FROM customer
    EXCEPT
    SELECT CAST(round(s_acctbal * 100, 0) AS BIGINT) FROM supplier
    """,
)
def setop_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — customer balance points (exact cents) never
    seen among suppliers. Originally keyed on nationkey, but every
    nation has both customers and suppliers from sf0.01 up, so that
    spelling hash-matched on ZERO rows at the driver's correctness SF —
    a vacuous attestation the r9 fixture-calibration sweep caught
    (the sf0.001 suite kept it green at 15 rows, masking it). The cents
    key keeps the operator identical (EXCEPT distinct through a hash
    anti-semantics set op) and is non-empty at every SF
    (150 / 1 499 / 14 896 rows at sf0.001/0.01/0.1). Round-before-cast
    per the double→bigint parity trap."""
    c = t(spark, sf_dir, "customer").select(
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("bal_cents")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.round(F.col("s_acctbal") * 100, 0).cast("bigint").alias("bal_cents")
    )
    return c.subtract(s)


@query(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (hash agg on all columns)."""
    return t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# Scalar function families
# ---------------------------------------------------------------------------


@query(
    "string_funcs_part",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS brand_up,
           SUBSTRING(p_name, 1, 8) AS name_prefix,
           LENGTH(p_name) AS name_len,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_type, 'E', '_') AS type_repl,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_word
    FROM part
    """,
)
def string_funcs_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar family (upper/substr/length/concat/replace/regexp)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_type"), F.lit("E"), F.lit("_")).alias("type_repl"),
        F.regexp_extract("p_name", "^([a-z]+)", 1).alias("first_word"),
    )


@query(
    "date_funcs_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
           CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dy,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30
    FROM orders
    """,
)
def date_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar family (extract/trunc/add)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias(
            "plus30"
        ),
    )


@query(
    "math_funcs_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_discount - 0.05) AS abs_d,
           CAST(CEIL(l_quantity / 7.0) AS BIGINT) AS ceil_q,
           CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT) AS floor_p,
           ROUND(SQRT(l_quantity), 6) AS sqrt_q,
           ROUND(LN(l_extendedprice), 6) AS ln_p,
           CAST(l_quantity AS BIGINT) % 5 AS mod_q
    FROM lineitem
    """,
)
def math_funcs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar family. sqrt is IEEE-exact; ln rounded to 6 (1-2 ulp noise)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_d"),
        F.ceil(F.col("l_quantity") / 7.0).cast("bigint").alias("ceil_q"),
        F.floor(F.col("l_extendedprice") / 1000.0).cast("bigint").alias("floor_p"),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_q"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_p"),
        (F.col("l_quantity").cast("bigint") % 5).alias("mod_q"),
    )


@query(
    "case_when_segmentation",
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'rich' END AS tier,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(15,4))), 2) AS DOUBLE) AS sum_bal
    FROM customer GROUP BY 1
    """,
)
def case_when_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN conditional projection + agg."""
    c = t(spark, sf_dir, "customer")
    tier = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("rich")
        .alias("tier")
    )
    return c.groupBy(tier).agg(
        F.count("*").alias("n"), money_sum(dec("c_acctbal"), "sum_bal")
    )


# ---------------------------------------------------------------------------
# Array / JSON / higher-order functions
# ---------------------------------------------------------------------------


@query(
    "json_funcs_events",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(15,4))), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
)
def json_funcs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from a semi-structured string column (reference P5:
    the LLM reply is a JSON string inside a record, parse.py:95-115)."""
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("k_mod"),
            dec("value").alias("v"),
        )
        .groupBy("k_mod")
        .agg(F.count("*").alias("n"), money_sum(F.col("v"), "sum_value"))
    )


@query(
    "array_funcs_documents",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           string_split(text, ' ')[1] AS first_token,
           list_contains(string_split(text, ' '), 'spark') AS has_spark,
           CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS BIGINT) AS sum_token_len
    FROM documents
    """,
)
def array_funcs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array + higher-order functions (split/size/element/contains/
    transform+aggregate) — all JVM-side, no UDF."""
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        toks.getItem(0).alias("first_token"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_token_len"),
    )


@query(
    "explode_word_counts",
    oracle="""
    SELECT word, COUNT(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word ORDER BY n DESC, word LIMIT 20
    """,
)
def explode_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLODE (UNNEST) → word frequency top-20 (generator + agg + top-k)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# As-of / unpivot / statistical extensions
# ---------------------------------------------------------------------------


def _click_probes(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, Column]:
    """The as-of joins' tagged stream: clicks (probe 0, no event_id) and
    errors (probe 1) unioned as ``(event_id, user_id, ev_ts, probe)``,
    and the backward as-of column — the last click ts at or before each
    row, over a (user_id)-partitioned running window that orders clicks
    before errors at equal ts so ties honor >= semantics."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        F.col("ts").alias("ev_ts"),
        F.lit(0).alias("probe"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("ev_ts"), F.lit(1).alias("probe")
    )
    u = clicks.unionByName(errors)
    wb = (
        W.partitionBy("user_id")
        .orderBy("ev_ts", "probe")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return u, F.last(F.when(F.col("probe") == 0, F.col("ev_ts")), ignorenulls=True).over(wb)


@query(
    "join_asof_last_click",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def join_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY §2b "range / as-of / interval join"): for each
    error event, the most recent click at-or-before it for the same user.

    Spark-first strategy: NOT a join at all — _click_probes unions the
    probe and build streams with a tag and takes ``last(click_ts,
    ignorenulls=True)`` over a (user, ts, tag)-ordered running window.
    One shuffle on user_id, no pair explosion, scales as sort-merge
    (DuckDB ASOF JOIN is the oracle). Inner semantics: errors with no
    prior click are dropped (match the default ASOF JOIN; avoids
    NULL-timestamp rows)."""
    u, lc = _click_probes(spark, sf_dir)
    return (
        u.withColumn("last_click_ts", lc)
        .filter((F.col("probe") == 1) & F.col("last_click_ts").isNotNull())
        .select("event_id", "user_id", F.col("ev_ts").alias("ts"), "last_click_ts")
    )


@query(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT 'l_quantity' AS measure,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(15,4))), 2) AS DOUBLE) AS total
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,4))), 2) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(15,4))), 2) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', CAST(ROUND(SUM(CAST(l_tax AS DECIMAL(15,4))), 2) AS DOUBLE)
    FROM lineitem
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide → long) then aggregate per measure. The unpivot
    itself is a zero-shuffle projection (each row emits 4); the aggregate is
    partial+final on a 4-value key."""
    li = t(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    return melted.groupBy("measure").agg(money_sum(F.col("val").cast(D15), "total"))


@query(
    "agg_percentiles_lineitem",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines define quantiles by
    linear interpolation). Exact percentile sorts per group — at 100 TB use
    approx_percentile (t-digest) instead; this is the correctness anchor."""
    li = t(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.lit([0.25, 0.5, 0.75]))
    return li.groupBy("l_returnflag").agg(
        F.round(F.element_at(pct, 1), 6).alias("p25"),
        F.round(F.element_at(pct, 2), 6).alias("p50"),
        F.round(F.element_at(pct, 3), 6).alias("p75"),
    )


@query(
    "agg_corr_quantity_price",
    oracle="""
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
           ROUND(stddev_samp(l_extendedprice), 4) AS sd_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr/covar/stddev) — single-pass partial+final
    moment accumulation in both engines."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qp"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
    )


# ---------------------------------------------------------------------------
# Subqueries & sampling
# ---------------------------------------------------------------------------


@query(
    "subquery_scalar_small_qty",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(15,4))) / 7.0, 2) AS DOUBLE)
           AS avg_yearly
    FROM lineitem l
    JOIN (SELECT l_partkey, AVG(l_quantity) AS avg_qty
          FROM lineitem GROUP BY l_partkey) p
      ON l.l_partkey = p.l_partkey
    WHERE l.l_quantity < 0.2 * p.avg_qty
    """,
)
def subquery_scalar_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): revenue of lineitems
    below 20% of their part's average quantity.

    Spark-first: decorrelate by hand — one groupBy(partkey) aggregate, then
    an equi self-join back. At 100 TB the per-part average table is ~|part|
    rows (small relative to lineitem) and AQE picks broadcast or shuffled
    hash; never evaluate a per-row subquery."""
    li = t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(F.sum(dec("l_extendedprice")) / 7.0, 2)
            .cast("double")
            .alias("avg_yearly")
        )
    )


@query(
    "subquery_having_big_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           CAST(ROUND(CAST(o.o_totalprice AS DECIMAL(15,4)), 2) AS DOUBLE) AS o_totalprice,
           CAST(ROUND(q.sum_qty, 2) AS DOUBLE) AS sum_qty
    FROM orders o
    JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(15,4))) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(15,4))) > 150) q
      ON o.o_orderkey = q.l_orderkey
    ORDER BY sum_qty DESC, o.o_orderkey
    LIMIT 50
    """,
)
def subquery_having_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery-with-HAVING (TPC-H Q18 shape): orders whose total line
    quantity exceeds a threshold. Partial+final agg on l_orderkey, HAVING as
    post-agg filter, then join back to orders — both sides already hashed on
    orderkey so AQE reuses the exchange; top-k is TakeOrdered, no global
    sort."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("sum_qty_d"))
        .filter(F.col("sum_qty_d") > 150)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(dec("o_totalprice"), 2).cast("double").alias("o_totalprice"),
            F.round(F.col("sum_qty_d"), 2).cast("double").alias("sum_qty"),
            F.col("sum_qty_d"),
        )
        .orderBy(F.desc("sum_qty_d"), "o_orderkey")
        .limit(50)
        .drop("sum_qty_d")
    )


@query(
    "subquery_exists_correlated",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
    ORDER BY c.c_custkey
    LIMIT 100
    """,
)
def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL entry point — Catalyst
    decorrelates both into a left-semi and a left-anti hash join on custkey
    (RewritePredicateSubquery); no per-row subquery execution."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("bps_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("bps_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM bps_customer c
        WHERE EXISTS (SELECT 1 FROM bps_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM bps_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F')
        ORDER BY c.c_custkey
        LIMIT 100
        """
    )


@query(
    "sample_deterministic_hash",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,4))), 2) AS DOUBLE)
           AS sum_price
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
)
def sample_deterministic_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% sample via md5(key) prefix — the scale-out
    substitute for TABLESAMPLE when the sample must be reproducible across
    engines, runs, and partitionings (seeded df.sample() is partition-layout
    dependent). Embarrassingly parallel: a filter on a scan, no shuffle."""
    o = t(spark, sf_dir, "orders")
    return (
        o.filter(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin("0", "1"))
        .agg(
            F.count("*").alias("n"),
            money_sum(dec("o_totalprice"), "sum_price"),
        )
    )


@query(
    "agg_salted_hotkey_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST("value" AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def agg_salted_hotkey_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation on a hot-key column: event_type has a
    handful of values, so a plain groupBy sends each type's entire volume to
    one reducer. The salt spreads every type over 16 buckets (stage 1:
    partial per (type, salt); stage 2: merge |types|×16 tiny rows). Identical
    results to the plain aggregate — the oracle is the unsalted SQL."""
    from batch_public_spark.operators.skew import salted_group_agg

    ev = t(spark, sf_dir, "events")
    agg = salted_group_agg(
        ev.withColumn("_vd", F.col("value").cast("decimal(18,4)")),
        ["event_type"],
        [("count", "", "n"), ("sum", "_vd", "total_d")],
        buckets=16,
        salt_on=F.col("event_id"),
    )
    return agg.select(
        "event_type",
        "n",
        F.round(F.col("total_d"), 2).cast("double").alias("total_value"),
    )


@query(
    "setop_bag_semantics",
    oracle="""
    WITH a AS (SELECT o_orderpriority AS pri FROM orders
               WHERE strftime(o_orderdate, '%Y') = '1996'),
         b AS (SELECT o_orderpriority AS pri FROM orders
               WHERE strftime(o_orderdate, '%Y') = '1997'),
    i AS (SELECT pri FROM a INTERSECT ALL SELECT pri FROM b),
    e AS (SELECT pri FROM a EXCEPT ALL SELECT pri FROM b)
    SELECT pri,
           (SELECT CAST(count(*) AS BIGINT) FROM i WHERE i.pri = p.pri)
             AS n_intersect_all,
           (SELECT CAST(count(*) AS BIGINT) FROM e WHERE e.pri = p.pri)
             AS n_except_all
    FROM (SELECT DISTINCT pri FROM a) p
    """,
)
def setop_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the BAG (multiset) set operations
    the distinct variants above cannot express: per priority,
    ``intersectAll`` keeps min(count_1996, count_1997) duplicate copies
    and ``exceptAll`` keeps max(0, count_1996 − count_1997); the query
    rolls each result up to per-priority counts so the multiset
    arithmetic itself is what gets hashed.

    Spark-first: both operators plan as aggregate-count + replicate
    (one shuffle each on the row value) — no join explosion; at scale
    they behave like a grouped count diff, which is also the manual
    rewrite when an engine lacks the operators."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.year("o_orderdate") == 1996).select(
        F.col("o_orderpriority").alias("pri")
    )
    b = o.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_orderpriority").alias("pri")
    )
    i = a.intersectAll(b).groupBy("pri").agg(
        F.count("*").cast("bigint").alias("n_intersect_all")
    )
    e = a.exceptAll(b).groupBy("pri").agg(
        F.count("*").cast("bigint").alias("n_except_all")
    )
    return (
        a.select("pri")
        .distinct()
        .join(i, "pri", "left")
        .join(e, "pri", "left")
        .select(
            "pri",
            F.coalesce("n_intersect_all", F.lit(0)).cast("bigint").alias(
                "n_intersect_all"
            ),
            F.coalesce("n_except_all", F.lit(0)).cast("bigint").alias("n_except_all"),
        )
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(count(DISTINCT strftime(o_orderdate, '%Y')) AS BIGINT) AS n_years,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates over DIFFERENT columns in one
    grouped query — the shape that forces Catalyst's Expand-based
    rewrite (each input row fans out once per distinct group, tagged
    with a grouping id, then two aggregate stages reassemble) rather
    than a simple partial+final hash agg.

    Scale note: Expand multiplies the shuffle by the number of distinct
    clauses (3× here) — acceptable for low-cardinality distincts; when a
    distinct column is high-cardinality at 100 TB the rewrite is
    approx_count_distinct (HLL, agg_approx_distinct_accuracy quantifies
    the error) or a two-step groupBy. This query pins the exact
    semantics those rewrites approximate."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").cast("bigint").alias("n_customers"),
        F.count_distinct("o_orderpriority").cast("bigint").alias("n_priorities"),
        F.count_distinct(F.date_format("o_orderdate", "yyyy")).cast("bigint").alias(
            "n_years"
        ),
        F.count("*").cast("bigint").alias("n_orders"),
    )


@query(
    "subquery_not_in_null_trap",
    oracle="""
    WITH keys AS (
      SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL ELSE c_custkey END AS k
      FROM customer
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_custkey NOT IN (SELECT k FROM keys)) AS n_not_in,
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM keys WHERE keys.k = o.o_custkey))
             AS n_not_exists,
           (SELECT CAST(count(*) AS BIGINT) FROM keys WHERE k IS NULL)
             AS n_null_keys
    """,
)
def subquery_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, pinned as ANSI three-valued logic: when the
    subquery list contains even one NULL, ``x NOT IN (list)`` is never
    TRUE (x <> NULL is UNKNOWN), so the NOT IN count collapses to 0
    while the NOT EXISTS form — which most authors actually meant —
    counts real non-matches. One row with both counts plus the NULL-key
    count makes the trap (and both engines' identical handling of it)
    the thing the hash certifies.

    Spark-first: NOT IN plans as a null-aware anti join (a stricter,
    more expensive operator than the plain left-anti NOT EXISTS gets) —
    which is exactly why style guides ban NOT IN on nullable columns at
    scale; this query is the registry's executable version of that
    rule."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    keys = c.select(
        F.when(F.col("c_custkey") % 100 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("c_custkey"))
        .alias("k")
    )
    keys.createOrReplaceTempView("_null_trap_keys")
    o.createOrReplaceTempView("_null_trap_orders")
    return spark.sql(
        """
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM _null_trap_orders
                WHERE o_custkey NOT IN (SELECT k FROM _null_trap_keys)) AS n_not_in,
               (SELECT CAST(count(*) AS BIGINT) FROM _null_trap_orders o
                WHERE NOT EXISTS (SELECT 1 FROM _null_trap_keys t
                                  WHERE t.k = o.o_custkey)) AS n_not_exists,
               (SELECT CAST(count(*) AS BIGINT) FROM _null_trap_keys
                WHERE k IS NULL) AS n_null_keys
        """
    )


@query(
    "join_asof_direction_battery",
    oracle="""
    WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    b AS (
      SELECT e.event_id, e.user_id, e.ts, c.ts AS prev_ts
      FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts
    ), f AS (
      SELECT e.event_id, c.ts AS next_ts
      FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts <= c.ts
    )
    SELECT b.event_id, b.user_id,
           CAST(COALESCE((epoch_us(b.ts) - epoch_us(b.prev_ts)) // 1000000, -1)
                AS BIGINT) AS prev_gap_s,
           CAST(COALESCE((epoch_us(f.next_ts) - epoch_us(b.ts)) // 1000000, -1)
                AS BIGINT) AS next_gap_s,
           CASE WHEN b.prev_ts IS NULL AND f.next_ts IS NULL THEN 'none'
                WHEN f.next_ts IS NULL THEN 'prev'
                WHEN b.prev_ts IS NULL THEN 'next'
                WHEN epoch_us(b.ts) - epoch_us(b.prev_ts)
                     <= epoch_us(f.next_ts) - epoch_us(b.ts) THEN 'prev'
                ELSE 'next' END AS nearest_dir
    FROM b JOIN f ON b.event_id = f.event_id
    """,
)
def join_asof_direction_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, all three directions in one battery: for each error
    event, the last click at-or-before it (backward — the classic as-of),
    the first click at-or-after it (forward), and which of the two is
    nearer (tie → backward). Completes the as-of family next to
    join_asof_last_click, which covers backward-inner only.

    Spark-first: still NOT a pair join — _click_probes' union and
    running window, run once per direction over ONE
    (user_id)-partitioned sort: backward is its ``last(click_ts,
    ignorenulls)`` over the preceding frame; forward is
    ``first(click_ts, ignorenulls)`` over the following frame with the
    tag order REVERSED so same-ts clicks land inside the following frame
    (<= includes ties). Both windows share one shuffle;
    no pair explosion at any scale. LEFT semantics: errors with no click
    on a side report gap −1 (sentinel instead of NULL — a NULL BIGINT
    column round-trips as float NaN through the oracle harness's pandas
    bridge; the oracle's ASOF LEFT JOIN coalesces identically)."""
    u, prev_ts = _click_probes(spark, sf_dir)
    wf = (
        W.partitionBy("user_id")
        .orderBy("ev_ts", F.desc("probe"))
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    click_ts = F.when(F.col("probe") == 0, F.col("ev_ts"))
    next_ts = F.first(click_ts, ignorenulls=True).over(wf)
    us = F.unix_micros
    tagged = (
        u.withColumn("prev_ts", prev_ts)
        .withColumn("next_ts", next_ts)
        .filter(F.col("probe") == 1)
    )
    prev_gap = us(F.col("ev_ts")) - us(F.col("prev_ts"))
    next_gap = us(F.col("next_ts")) - us(F.col("ev_ts"))
    return tagged.select(
        "event_id",
        "user_id",
        F.expr(
            "coalesce((unix_micros(ev_ts) - unix_micros(prev_ts)) div 1000000, -1)"
        )
        .cast("bigint")
        .alias("prev_gap_s"),
        F.expr(
            "coalesce((unix_micros(next_ts) - unix_micros(ev_ts)) div 1000000, -1)"
        )
        .cast("bigint")
        .alias("next_gap_s"),
        F.when(F.col("prev_ts").isNull() & F.col("next_ts").isNull(), "none")
        .when(F.col("next_ts").isNull(), "prev")
        .when(F.col("prev_ts").isNull(), "next")
        .when(prev_gap <= next_gap, "prev")
        .otherwise("next")
        .alias("nearest_dir"),
    )


@query(
    "agg_grouping_id_battery",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_id_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() flag surface over a 4-way GROUPING SETS lattice: the
    flags are what make multi-level aggregates machine-consumable — a
    NULL status cell is ambiguous (real NULL vs rolled-up) until
    GROUPING() disambiguates, and every BI/OLAP layer reading a
    cube/rollup output keys on them. Exposed as per-column 0/1 flags
    rather than a packed GROUPING_ID so the oracle is engine-neutral
    (bit order in the packed id is not standardized across engines).

    Spark-first: one shuffle computes all four lattice levels (Catalyst
    expands grouping sets into a single Expand + hash aggregate, not four
    scans); measures follow the registry DECIMAL discipline."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
                 AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority), ())
        """
    )
