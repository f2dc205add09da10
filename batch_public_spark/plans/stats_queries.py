"""Round-4 (late) statistical-monitoring family: distribution drift
(PSI, two-sample KS), independence testing (chi-square), sweep-line
interval concurrency, EWMA smoothing, rolling exact medians, Zipf-law
fitting, and length-bucketed batch planning.

These are the statistical gates a 100 TB training-data pipeline runs
between ingest and training: "did today's corpus drift from the reference
distribution?" (PSI/KS), "are language and source independent or is one
source polluting one language?" (chi-square), "what token budget does a
length-bucketed packing plan waste?" (batch planning). All are expressed
as single-pass aggregations + tiny-grid joins — the heavy scan happens
once, the statistics run on post-aggregation tables whose size is bounded
by cardinality (bins, sources, days), not row count.

Oracle discipline per plans.registry: counts stay integer-exact; shares
and test statistics divide exact components as doubles and round to 6;
float-weight sums go through DECIMAL so accumulation order can't move a
hash; EWMA decay weights are spelled as identical double literals in both
engines (never pow(), whose last ulp differs between libm and the JVM).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from batch_public_spark.operators.textops import token_count_ws, tokens
from batch_public_spark.plans.lint import bounded_window_key
from batch_public_spark.plans.llmops_queries import _TOKS
from batch_public_spark.plans.registry import query
from batch_public_spark.sources.tables import cut
from batch_public_spark.sources.tables import inline_rows
from batch_public_spark.sources.tables import load_table as t
from batch_public_spark.sources.tables import spread

# EWMA decay weights 0.7^k, k=0..13, materialized once in Python and spelled
# as the SAME double literals in the Spark plan and the DuckDB oracle:
# repr() round-trips exactly, so both engines parse the identical double and
# no pow() (1-ulp engine divergence) ever runs at query time.
_EWMA_ALPHA = 0.7
_EWMA_SPAN = 14
_EWMA_W = [repr(_EWMA_ALPHA**k) for k in range(_EWMA_SPAN)]

_PSI_SPLIT = "1998-01-01"  # orders span 1995-01-01 .. 2001-08-01


@query(
    "dq_psi_drift",
    oracle=f"""
    WITH edges AS (
      SELECT list_transform(quantile_cont(o_totalprice,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]), e -> round(e, 6)) AS es
      FROM orders WHERE o_orderdate < TIMESTAMP '{_PSI_SPLIT}'
    ), binned AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '{_PSI_SPLIT}' THEN 1 ELSE 0 END AS is_ref,
             1 + len(list_filter(es, e -> e < o_totalprice)) AS bin
      FROM orders CROSS JOIN edges
    ), counts AS (
      SELECT bin,
             CAST(sum(is_ref) AS BIGINT) AS n_ref,
             CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT CAST(sum(n_ref) AS BIGINT) AS tr, CAST(sum(n_cur) AS BIGINT) AS tc
      FROM counts
    )
    SELECT bin, n_ref, n_cur,
           round((n_ref + 0.5) / (tr + 5.0), 6) AS ref_share,
           round((n_cur + 0.5) / (tc + 5.0), 6) AS cur_share,
           round(((n_ref + 0.5) / (tr + 5.0) - (n_cur + 0.5) / (tc + 5.0))
                 * ln(((n_ref + 0.5) / (tr + 5.0)) / ((n_cur + 0.5) / (tc + 5.0))),
                 6) AS psi_term
    FROM counts CROSS JOIN tot
    """,
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a reference period (orders
    before 1998) and the current period, over decile bins of the
    reference price distribution — the standard "did the feature drift?"
    monitor; PSI = Σ (p−q)·ln(p/q), bins carrying their own term so the
    alert can say WHERE the mass moved. Laplace-smoothed shares (+0.5)
    keep empty bins finite and deterministic.

    Spark-first: bin edges come from ONE exact-percentile aggregation
    over the reference scan (never an ntile window — no single-partition
    global sort), broadcast as a 9-element array; bin assignment is an
    in-row ``size(filter(edges, e < price))`` over that array, so the
    full fact scan stays in whole-stage codegen with zero extra
    shuffles. At 100 TB swap percentile → approx_percentile(1e-4): plan
    unchanged. Edges are rounded to 6dp in BOTH engines before the
    comparison; ties at an edge (edges interpolate onto data values when
    n%10==0) compare identically because the doubles are identical."""
    o = t(spark, sf_dir, "orders")
    split = F.to_timestamp(F.lit(_PSI_SPLIT))
    edges = (
        o.filter(F.col("o_orderdate") < split)
        .agg(
            F.expr(
                "percentile(o_totalprice, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))"
            ).alias("es")
        )
        .select(F.transform("es", lambda e: F.round(e, 6)).alias("es"))
    )
    binned = o.crossJoin(F.broadcast(edges)).select(
        F.when(F.col("o_orderdate") < split, 1).otherwise(0).alias("is_ref"),
        (
            1
            + F.size(F.filter("es", lambda e: e < F.col("o_totalprice")))
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum("is_ref").cast("bigint").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("bigint").alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").cast("bigint").alias("tr"), F.sum("n_cur").cast("bigint").alias("tc")
    )
    p = (F.col("n_ref") + 0.5) / (F.col("tr") + 5.0)
    q = (F.col("n_cur") + 0.5) / (F.col("tc") + 5.0)
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(p, 6).alias("ref_share"),
        F.round(q, 6).alias("cur_share"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


@query(
    "llmops_ks_drift",
    oracle="""
    WITH lens AS (
      SELECT n_chars AS len, CAST(count(*) AS BIGINT) AS g
      FROM documents GROUP BY 1
    ), per_src AS (
      SELECT source, n_chars AS len, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ), srcs AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM documents GROUP BY 1
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM documents),
    grid AS (
      SELECT s.source, s.n_src, l.len, l.g, coalesce(p.c, 0) AS c
      FROM srcs s CROSS JOIN lens l
      LEFT JOIN per_src p ON p.source = s.source AND p.len = l.len
    ), cum AS (
      SELECT source, n_src, len, g, c,
             sum(c) OVER w AS cs,
             sum(g) OVER w AS cg
      FROM grid CROSS JOIN n
      WINDOW w AS (PARTITION BY source ORDER BY len
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT source, max(n_src) AS n_docs,
           round(max(abs(CAST(cs AS DOUBLE) / n_src
                         - CAST(cg AS DOUBLE) / (SELECT n_all FROM n))), 6) AS ks_stat
    FROM cum GROUP BY source
    """,
)
def llmops_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic per source: the
    supremum gap between each source's empirical CDF of document length
    and the whole-corpus CDF — the distributional screen that catches a
    source whose documents suddenly run short/long even when its mean
    looks normal. Exact, not sampled: the sup is evaluated at every
    distinct length (the only points where either step function moves).

    Spark-first: two grouped counts (per-length, per-source-length) off
    one scan pattern, then a |sources| × |distinct lengths| grid — size
    bounded by cardinality, independent of corpus row count — with the
    step functions materialized by ONE cumulative window partitioned by
    source (never a global sort). CDF values are exact integer ratios
    divided as doubles; both engines perform the identical IEEE ops, and
    only the final sup is rounded."""
    d = t(spark, sf_dir, "documents")
    lens = d.groupBy(F.col("n_chars").alias("len")).agg(
        F.count("*").cast("bigint").alias("g")
    )
    per_src = d.groupBy("source", F.col("n_chars").alias("len")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    srcs = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n_src"))
    n = d.agg(F.count("*").cast("bigint").alias("n_all"))
    grid = (
        srcs.crossJoin(lens)
        .join(per_src, ["source", "len"], "left")
        .select("source", "n_src", "len", "g", F.coalesce("c", F.lit(0)).alias("c"))
    )
    w = W.partitionBy("source").orderBy("len").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = grid.crossJoin(F.broadcast(n)).select(
        "source",
        "n_src",
        (F.sum("c").over(w).cast("double") / F.col("n_src")).alias("f_src"),
        (F.sum("g").over(w).cast("double") / F.col("n_all")).alias("f_all"),
    )
    return cum.groupBy("source").agg(
        F.max("n_src").alias("n_docs"),
        F.round(F.max(F.abs(F.col("f_src") - F.col("f_all"))), 6).alias("ks_stat"),
    )


@query(
    "llmops_chi2_independence",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      FROM documents GROUP BY 1, 2
    ), langs AS (SELECT lang, CAST(sum(o) AS BIGINT) AS rl FROM cells GROUP BY 1),
    srcs AS (SELECT source, CAST(sum(o) AS BIGINT) AS cl FROM cells GROUP BY 1),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    grid AS (
      SELECT l.lang, s.source, l.rl, s.cl, coalesce(c.o, 0) AS o
      FROM langs l CROSS JOIN srcs s
      LEFT JOIN cells c ON c.lang = l.lang AND c.source = s.source
    ), terms AS (
      SELECT CAST(round(
               (o - CAST(rl AS DOUBLE) * cl / n.n)
               * (o - CAST(rl AS DOUBLE) * cl / n.n)
               / (CAST(rl AS DOUBLE) * cl / n.n), 10) AS DECIMAL(24,10)) AS term
      FROM grid CROSS JOIN n
    )
    SELECT CAST(round(sum(term), 6) AS DOUBLE) AS chi2,
           CAST(((SELECT count(*) FROM langs) - 1)
                * ((SELECT count(*) FROM srcs) - 1) AS BIGINT) AS dof,
           (SELECT n FROM n) AS n
    FROM terms
    """,
)
def llmops_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test for language × source over the
    corpus: Σ (observed − expected)²/expected with expected = row·col/N —
    the contingency gate that flags a scraper feeding one language into
    one source bucket (corpus composition drift that per-column monitors
    miss). Emits the statistic, degrees of freedom, and N so the caller
    can look up the p-value.

    Spark-first: ONE grouped count over the scan builds the contingency
    cells; marginals re-aggregate the cells (|langs|+|sources| rows, no
    second scan); the dense |langs|×|sources| grid restores
    observed-zero cells, which legitimately contribute (0−e)²/e. Each
    cell's term is computed in double (identical IEEE sequence in both
    engines), rounded to 10dp, then summed as DECIMAL so accumulation
    ORDER cannot move the hash — only the total is re-rounded to 6."""
    d = t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count("*").cast("bigint").alias("o"))
    langs = cells.groupBy("lang").agg(F.sum("o").cast("bigint").alias("rl"))
    srcs = cells.groupBy("source").agg(F.sum("o").cast("bigint").alias("cl"))
    n = cells.agg(F.sum("o").cast("bigint").alias("n"))
    grid = (
        langs.crossJoin(srcs)
        .join(cells, ["lang", "source"], "left")
        .select("lang", "source", "rl", "cl", F.coalesce("o", F.lit(0)).alias("o"))
        .crossJoin(F.broadcast(n))
    )
    e = F.col("rl").cast("double") * F.col("cl") / F.col("n")
    # The per-cell term is computed wholly in DOUBLE (both engines run the
    # identical IEEE sequence on identical inputs), rounded to 10dp, and only
    # THEN cast to decimal for the order-invariant sum — decimal×decimal
    # would hit engine-specific precision-overflow scale rules.
    term = F.round((F.col("o") - e) * (F.col("o") - e) / e, 10).cast("decimal(24,10)")
    terms = grid.select(term.alias("term"))
    dof = (
        langs.agg(F.count("*").alias("nl"))
        .crossJoin(srcs.agg(F.count("*").alias("ns")))
        .select(((F.col("nl") - 1) * (F.col("ns") - 1)).cast("bigint").alias("dof"))
    )
    return (
        terms.agg(F.round(F.sum("term"), 6).cast("double").alias("chi2"))
        .crossJoin(F.broadcast(dof))
        .crossJoin(F.broadcast(n))
    )


@query(
    "events_max_concurrency",
    oracle="""
    WITH intervals AS (
      SELECT user_id, CAST(ts AS DATE) AS d, min(ts) AS s, max(ts) AS e
      FROM events GROUP BY 1, 2
    ), deltas AS (
      SELECT d, s AS ts, 1 AS delta, user_id FROM intervals
      UNION ALL
      SELECT d, e AS ts, -1 AS delta, user_id FROM intervals
    ), running AS (
      SELECT d, sum(delta) OVER (
        PARTITION BY d ORDER BY ts, delta DESC, user_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
      FROM deltas
    ), per_day AS (
      SELECT d, CAST(max(live) AS BIGINT) AS day_max FROM running GROUP BY d
    ), peak AS (SELECT max(day_max) AS mx FROM per_day)
    SELECT CAST(peak.mx AS BIGINT) AS max_concurrent,
           strftime(min(per_day.d), '%Y-%m-%d') AS first_date,
           CAST(count(*) AS BIGINT) AS n_days_at_max
    FROM per_day JOIN peak ON per_day.day_max = peak.mx
    GROUP BY peak.mx
    """,
)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line maximum concurrency: how many users' daily activity
    spans [first event, last event] overlap at the busiest instant — the
    capacity-planning number (peak simultaneous sessions) that no
    group-by can produce. Interval endpoints become +1/−1 deltas; a
    running sum ordered by (time, starts-before-ends) traces the live
    count; the peak is its max.

    Spark-first: the sweep is PARTITIONED BY DAY — intervals are built
    per user-day so they never cross midnight, which turns the classic
    "global sort" sweep into |days| independent sweeps (the 100 TB
    decomposition; any interval-closing time grain works). Both engines
    pin the exact same total order (ts, delta DESC, user_id) and an
    explicit ROWS frame — RANGE would collapse equal-timestamp peers and
    report a different (wrong) intermediate peak. Day-level peaks are
    permutation-invariant at ties since all +1s at a timestamp precede
    all −1s."""
    e = t(spark, sf_dir, "events")
    intervals = e.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    deltas = intervals.select(
        "d", F.col("s").alias("ts"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        intervals.select("d", F.col("e").alias("ts"), F.lit(-1).alias("delta"), "user_id")
    )
    w = (
        W.partitionBy("d")
        .orderBy(F.col("ts"), F.col("delta").desc(), F.col("user_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    per_day = (
        deltas.select("d", F.sum("delta").over(w).alias("live"))
        .groupBy("d")
        .agg(F.max("live").cast("bigint").alias("day_max"))
    )
    peak = per_day.agg(F.max("day_max").alias("mx"))
    return (
        per_day.join(F.broadcast(peak), per_day.day_max == F.col("mx"))
        .groupBy("mx")
        .agg(
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("first_date"),
            F.count("*").cast("bigint").alias("n_days_at_max"),
        )
        .select(
            F.col("mx").cast("bigint").alias("max_concurrent"),
            "first_date",
            "n_days_at_max",
        )
    )


@query(
    "events_ewma_daily",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS dn,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS av
      FROM events GROUP BY 1, 2, 3
    ), w(k, wt) AS (
      SELECT k, ([{", ".join(_EWMA_W)}])[k + 1]
      FROM (SELECT unnest(range(0, {_EWMA_SPAN})) AS k)
    ), joined AS (
      SELECT d1.event_type, d1.d,
             CAST(round(w.wt * d2.av, 12) AS DECIMAL(28,12)) AS num_term,
             CAST(round(w.wt, 12) AS DECIMAL(28,12)) AS den_term
      FROM daily d1
      JOIN daily d2 ON d2.event_type = d1.event_type
                   AND d1.dn - d2.dn BETWEEN 0 AND {_EWMA_SPAN - 1}
      JOIN w ON w.k = d1.dn - d2.dn
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_in_window,
           round(CAST(sum(num_term) AS DOUBLE) / CAST(sum(den_term) AS DOUBLE), 6) AS ewma
    FROM joined GROUP BY event_type, d
    """,
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted exponentially-weighted moving average of the daily mean
    event value per type (span 14, α-decay 0.7): ewma_t =
    Σ wᵏ·x_{t−k} / Σ wᵏ over the trailing fortnight, weights keyed by
    CALENDAR day distance so a missing day decays the signal instead of
    silently shifting it — the smoothing curve every ops dashboard draws
    over a noisy daily metric.

    Spark-first: the event scan collapses to a (type × day) daily grid
    ONCE (decimal-exact means); the EWMA is a band self-join on that
    post-aggregation grid, whose size is |types|·|days| — independent of
    event count, so at 100 TB the join costs nothing while the scan
    stays single-pass. Decay weights are pre-materialized double
    LITERALS spelled identically in both engines (pow()'s last ulp
    differs between libm and the JVM); weighted terms round to 12dp and
    sum as DECIMAL so accumulation order is hash-invariant."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("av")
    ).withColumn("dn", F.datediff("d", F.to_date(F.lit("2024-01-01"))).cast("bigint"))
    weights = F.array(*[F.lit(float(w)) for w in _EWMA_W])
    d1, d2 = daily.alias("d1"), daily.alias("d2")
    gap = F.col("d1.dn") - F.col("d2.dn")
    joined = d1.join(
        d2,
        (F.col("d2.event_type") == F.col("d1.event_type"))
        & (gap >= 0)
        & (gap < _EWMA_SPAN),
    ).select(
        F.col("d1.event_type").alias("event_type"),
        F.col("d1.d").alias("d"),
        F.round(F.element_at(weights, (gap + 1).cast("int")) * F.col("d2.av"), 12)
        .cast("decimal(28,12)")
        .alias("num_term"),
        F.round(F.element_at(weights, (gap + 1).cast("int")), 12)
        .cast("decimal(28,12)")
        .alias("den_term"),
    )
    return joined.groupBy("event_type", "d").agg(
        F.count("*").cast("bigint").alias("n_in_window"),
        F.round(
            F.sum("num_term").cast("double") / F.sum("den_term").cast("double"), 6
        ).alias("ewma"),
    ).select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_in_window",
        "ewma",
    )


@query(
    "window_rolling_median_daily",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
             CAST(CAST(o_orderdate AS DATE) - DATE '1990-01-01' AS BIGINT) AS dn,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS rev
      FROM orders GROUP BY 1, 2, 3
    )
    SELECT d1.pri, strftime(d1.d, '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(quantile_cont(d2.rev, 0.5) AS DOUBLE), 6) AS med_rev_7d
    FROM daily d1
    JOIN daily d2 ON d2.pri = d1.pri AND d1.dn - d2.dn BETWEEN 0 AND 6
    GROUP BY d1.pri, d1.d
    """,
)
def window_rolling_median_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day EXACT rolling median of daily revenue per order
    priority — the robust centerline for a spike detector (a single
    whale order drags a rolling mean but not the median). Median has no
    frame-windowed form in either engine (it is not
    decomposable/self-maintainable — the same reason mv_incremental_
    refresh excludes percentiles from incremental MVs), so the rolling
    version is a calendar band join over the DAILY grid + exact
    percentile per (priority, day).

    Spark-first: the fact scan collapses to |priorities|·|days| rows
    first; the band self-join and percentile run on that bounded grid,
    so cost is calendar-sized, not data-sized, at any scale. Daily
    revenues go through DECIMAL (exact) and are rounded BEFORE the
    median, so the interpolated midpoint averages identical doubles in
    both engines."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2).alias(
            "rev"
        )
    ).withColumn("dn", F.datediff("d", F.to_date(F.lit("1990-01-01"))).cast("bigint"))
    d1, d2 = daily.alias("d1"), daily.alias("d2")
    gap = F.col("d1.dn") - F.col("d2.dn")
    return (
        d1.join(d2, (F.col("d2.pri") == F.col("d1.pri")) & (gap >= 0) & (gap <= 6))
        .groupBy(F.col("d1.pri").alias("pri"), F.col("d1.d").alias("d"))
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.round(F.percentile(F.col("d2.rev"), F.lit(0.5)), 6).alias("med_rev_7d"),
        )
        .select("pri", F.date_format("d", "yyyy-MM-dd").alias("day"), "n_days", "med_rev_7d")
    )


@query(
    "llmops_zipf_slope",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS term
      FROM documents
    ), counts AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY term
    ), top AS (
      SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 300
    ), ranked AS (
      SELECT n, CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT) AS rnk
      FROM top
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS slope,
           round(regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS intercept,
           round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rnk AS DOUBLE))), 6) AS r2
    FROM ranked
    """,
)
def llmops_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: regress log(frequency)
    on log(rank) for the top-300 terms — natural language sits near
    slope −1, so a corpus whose slope drifts toward 0 (too uniform:
    boilerplate/templated text) or below −1.5 (too peaked: repetition)
    fails the linguistic-health gate. Emits slope, intercept, and R².

    Spark-first: term counts are one explode + map-side-combined count;
    the top-300 selection is ``orderBy(n DESC, term).limit`` — a
    TakeOrdered reduction, never a global rank window over the full
    vocabulary (tens of millions of terms at 100 TB). Only the 300
    survivors pass through the (bounded, acknowledged) rank window and
    the regression, whose Σxy/Σx² run over 300 near-unit logs — double
    noise ~1e-13, far from the 6dp rounding."""
    d = t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), "term").limit(300)
    # The rank window runs over exactly the 300 TakeOrdered survivors;
    # bounded_window_key keeps the plan visibly partitioned (a naive
    # ``n * 0`` key is constant-folded away and lint_plan flags it).
    wr = W.partitionBy(bounded_window_key(F.col("n"))).orderBy(F.desc("n"), "term")
    ranked = top.select(
        F.log(F.col("n").cast("double")).alias("y"),
        F.log(F.row_number().over(wr).cast("double")).alias("x"),
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
    )


@query(
    "llmops_length_bucket_batching",
    oracle="""
    WITH lens AS (
      SELECT length(list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '')) AS n_tok
      FROM documents
    ), bucketed AS (
      SELECT n_tok,
             CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
                  WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
                  WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
                  WHEN n_tok <= 1024 THEN 1024 ELSE 2048 END AS bucket
      FROM lens
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST((count(*) + 31) // 32 AS BIGINT) AS n_batches,
           round(1.0 - CAST(sum(n_tok) AS DOUBLE) / (CAST(bucket AS DOUBLE) * count(*)),
                 6) AS pad_waste_ratio
    FROM bucketed GROUP BY bucket
    """,
)
def llmops_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch planning: assign every document to the
    smallest power-of-two sequence length that holds its whitespace
    token count, then report per-bucket document count, batch count (at
    batch size 32), and the padding-waste ratio — the number a training
    pipeline minimizes when it chooses bucket boundaries (padding every
    sequence to a global max wastes most of the FLOPs; this query
    quantifies exactly how much each bucket saves).

    Spark-first: a single narrow scan computes token counts in-row; the
    bucket is a constant CASE ladder (whole-stage codegen — deliberately
    NOT ceil(log2(n)), whose float boundary at exact powers of two is an
    engine-portability trap); one map-side-combined aggregation per
    bucket. All outputs are exact integer arithmetic except the final
    ratio (exact ints divided as doubles, round 6)."""
    d = t(spark, sf_dir, "documents")
    n_tok = token_count_ws(F.col("text"))
    bucket = (
        F.when(n_tok <= 16, 16)
        .when(n_tok <= 32, 32)
        .when(n_tok <= 64, 64)
        .when(n_tok <= 128, 128)
        .when(n_tok <= 256, 256)
        .when(n_tok <= 512, 512)
        .when(n_tok <= 1024, 1024)
        .otherwise(2048)
    )
    return (
        d.select(n_tok.alias("n_tok"), bucket.cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.floor((F.count("*") + 31) / 32).cast("bigint").alias("n_batches"),
            F.round(
                1.0
                - F.sum("n_tok").cast("double")
                / (F.col("bucket").cast("double") * F.count("*")),
                6,
            ).alias("pad_waste_ratio"),
        )
    )


@query(
    "llmops_edit_distance_pairs",
    oracle="""
    WITH en AS (
      SELECT doc_id, n_chars, left(text, 200) AS head
      FROM documents WHERE lang = 'en' AND doc_id < 150
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM en a JOIN en b
      ON b.doc_id > a.doc_id
     AND b.n_chars BETWEEN a.n_chars - 40 AND a.n_chars + 40
    WHERE levenshtein(a.head, b.head) <= 120
    """,
)
def llmops_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate verifier: Levenshtein distance over
    document heads for length-banded candidate pairs — the third exact
    verifier in the dedup cascade next to n-gram Jaccard (set overlap)
    and SimHash Hamming (bit distance); edit distance is the one that
    catches small in-place edits (typo fixes, entity swaps) that leave
    shingle sets nearly intact.

    Spark-first scale shape: Levenshtein is O(len²) per pair, so it NEVER
    runs all-pairs — candidates come from a banded equi-ish join
    (|n_chars| within ±40 after blocking) and the distance runs on fixed
    200-char heads, exactly how the production cascade verifies only
    MinHash/SimHash survivors. The sf fixture anchors the pair set with
    ``doc_id < 150`` (documented bounded oracle anchor, same as
    llmops_ngram_jaccard_pairs). English-only: both engines count
    Unicode code points, but pinning ASCII-heavy text keeps the
    comparison trivially portable."""
    d = t(spark, sf_dir, "documents")
    en = d.filter((F.col("lang") == "en") & (F.col("doc_id") < 150)).select(
        "doc_id", "n_chars", F.substring("text", 1, 200).alias("head")
    )
    # spread() on the STREAM side only: the O(len²) levenshtein runs on
    # the BroadcastNestedLoopJoin's stream tasks, and the 1-task fixture
    # scan serializes it (guide §2.5); the broadcast side is unchanged.
    a, b = spread(en).alias("a"), en.alias("b")
    # Explicit broadcast: the join has no equi-key, and without it the
    # planner falls back to CartesianProduct once the scan's size estimate
    # passes the auto-broadcast threshold (the lint gate flags those).
    pairs = a.join(
        F.broadcast(b),
        (F.col("b.doc_id") > F.col("a.doc_id"))
        & (F.col("b.n_chars") >= F.col("a.n_chars") - 40)
        & (F.col("b.n_chars") <= F.col("a.n_chars") + 40),
    )
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        dist.cast("bigint").alias("edit_dist"),
    ).filter(F.col("edit_dist") <= 120)


@query(
    "llmops_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS term
      FROM documents
    ), counts AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY term
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
    SELECT term, n, round(CAST(n AS DOUBLE) / total, 6) AS share
    FROM counts CROSS JOIN tot
    WHERE n * 1000 > total
    """,
)
def llmops_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: every term whose frequency exceeds 1/1000 of
    all tokens — the support threshold phrased as the EXACT answer that
    streaming sketches (Misra-Gries / SpaceSaving / count-min) guarantee
    to superset; this query is both the boilerplate-token detector
    (tokens this frequent are markup, not language) and the ground truth
    an approximate heavy-hitter pass is validated against.

    Spark-first: one explode + map-side-combined count; the threshold
    filter is integer arithmetic (``n·1000 > total`` — no float
    boundary) against a broadcast one-row total, applied POST-agg so
    only the |vocab|-row count table is rescanned, never the corpus. At
    100 TB the count table is the thing you'd feed to SpaceSaving; the
    plan shape here (explode → partial count → tiny broadcast) is
    unchanged."""
    d = t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter(F.col("n") * 1000 > F.col("total"))
        .select(
            "term",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        )
    )


# Count-min sketch geometry: d independent hash rows × w buckets. Buckets
# derive from md5 hex (the _hex3 portable-hash discipline of
# curation_queries) so BOTH engines address the identical sketch cells.
_CM_D = 4
_CM_W = 64


def _cm_bucket_sql(j: int) -> str:
    """SQL (engine-neutral): count-min bucket of ``term`` for hash row j."""
    from batch_public_spark.plans.curation_queries import _hex3

    inner = "md5(concat('cm" + str(j) + ":', term))"
    return f"({_hex3(inner)} % {_CM_W})"


@query(
    "llmops_countmin_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS term
      FROM documents
    ), counts AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY term
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
    cells AS (
      SELECT j,
             CASE j WHEN 0 THEN {_cm_bucket_sql(0)}
                    WHEN 1 THEN {_cm_bucket_sql(1)}
                    WHEN 2 THEN {_cm_bucket_sql(2)}
                    ELSE {_cm_bucket_sql(3)} END AS bucket,
             term, n
      FROM counts CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
    ), cm AS (
      SELECT j, bucket, CAST(sum(n) AS BIGINT) AS cnt
      FROM cells GROUP BY j, bucket
    ), est AS (
      SELECT c.term, max(c.n) AS n, CAST(min(s.cnt) AS BIGINT) AS est
      FROM cells c JOIN cm s ON c.j = s.j AND c.bucket = s.bucket
      GROUP BY c.term
    ), cands AS (
      SELECT CAST(count(*) AS BIGINT) AS sketch_candidates
      FROM est CROSS JOIN tot WHERE est * 1000 > total
    )
    SELECT term, n, est, est >= n AS est_ge_exact, sketch_candidates
    FROM est CROSS JOIN tot CROSS JOIN cands
    WHERE n * 1000 > total
    """,
)
def llmops_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch pass over the token stream, validated against the
    exact heavy hitters: for every exact >0.1% term the sketch estimate is
    ≥ the true count (the count-min one-sided guarantee, emitted as the
    ``est_ge_exact`` column the oracle hash pins to true), and
    ``sketch_candidates`` — the number of terms the SKETCH would flag at
    the same threshold — bounds the superset's inflation. This is the
    approximate pass llmops_heavy_hitters documents itself as ground
    truth for.

    Spark-first scale shape: count-min is LINEAR, so the sketch is built
    from the |vocab|-row count table (one explode + map-side-combined
    count — the same corpus scan the exact query does, executed once per
    job via runtime exchange reuse, see inline note), not by
    re-hashing every token occurrence; each vocab row fans out to its
    d=4 (row, bucket) cells and ONE aggregation produces all d×w=256
    sketch cells with map-side partials — exactly how mergeable
    per-partition sketches combine. Bucket addressing is md5-hex
    arithmetic (curation_queries._hex3) evaluated from identical inputs
    in both engines, so the DuckDB replay fills the identical sketch."""
    # spread(): tokenize + explode is per-row text compute over the
    # 1-task fixture scan (guide §2.5); no-op at scale.
    d = spread(t(spark, sf_dir, "documents").select("text"))
    counts = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    cells = counts.select(
        "term",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.expr(_cm_bucket_sql(j)).cast("int").alias("bucket"),
                    )
                    for j in range(_CM_D)
                ]
            )
        ).alias("jb"),
    ).select("term", "n", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
    cm = cells.groupBy("j", "bucket").agg(F.sum("n").cast("bigint").alias("cnt"))
    est = (
        cells.join(cm, ["j", "bucket"])
        .groupBy("term")
        .agg(F.max("n").alias("n"), F.min("cnt").cast("bigint").alias("est"))
    )
    # Both outputs derive from the sketch-candidate superset: the count-min
    # one-sided guarantee (est >= n always) makes every exact heavy hitter a
    # sketch candidate, so filtering to est-heavy first loses nothing. The
    # two consumers of `flagged` (the scalar count and the final rows) do
    # declare the subtree twice, but the duplicated shuffles below it are
    # canonically identical and Spark's runtime exchange reuse (verified:
    # ReusedExchange nodes in the AQE final plan) executes the corpus
    # scan/count/sketch once — the recompute is the post-shuffle tail only.
    flagged = est.crossJoin(F.broadcast(tot)).filter(
        F.col("est") * 1000 > F.col("total")
    )
    cands = flagged.agg(F.count("*").cast("bigint").alias("sketch_candidates"))
    return (
        flagged.filter(F.col("n") * 1000 > F.col("total"))
        .crossJoin(F.broadcast(cands))
        .select(
            "term",
            "n",
            "est",
            (F.col("est") >= F.col("n")).alias("est_ge_exact"),
            "sketch_candidates",
        )
    )


@query(
    "agg_winsorized_stats",
    oracle="""
    WITH edges AS (
      SELECT o_orderpriority AS pri,
             round(CAST(quantile_cont(o_totalprice, 0.05) AS DOUBLE), 6) AS lo,
             round(CAST(quantile_cont(o_totalprice, 0.95) AS DOUBLE), 6) AS hi
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority AS pri,
           CAST(count(*) AS BIGINT) AS n,
           round(e.lo, 2) AS p05,
           round(e.hi, 2) AS p95,
           round(CAST(sum(CAST(least(greatest(o.o_totalprice, e.lo), e.hi)
                               AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             AS winsorized_mean,
           CAST(sum(CASE WHEN o.o_totalprice > e.lo AND o.o_totalprice < e.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS trimmed_n,
           CASE WHEN sum(CASE WHEN o.o_totalprice > e.lo AND o.o_totalprice < e.hi
                              THEN 1 ELSE 0 END) > 0
                THEN round(CAST(sum(CASE WHEN o.o_totalprice > e.lo
                                          AND o.o_totalprice < e.hi
                                        THEN CAST(o.o_totalprice AS DECIMAL(18,6))
                                        ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                           / sum(CASE WHEN o.o_totalprice > e.lo
                                       AND o.o_totalprice < e.hi
                                      THEN 1 ELSE 0 END), 6)
           END AS trimmed_mean
    FROM orders o JOIN edges e ON e.pri = o.o_orderpriority
    GROUP BY o.o_orderpriority, e.lo, e.hi
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized and trimmed means per order priority: clamp (or drop)
    values outside the group's exact [p05, p95] band before averaging —
    the outlier-resistant mean every metrics pipeline swaps in when a
    single whale order should not move the daily KPI. Complements
    dq_orders_mad_outliers (which FLAGS outliers) by producing the
    robust statistic itself.

    Spark-first: one exact-percentile aggregation per group (at 100 TB:
    approx_percentile, same plan), broadcast back as a 5-row edge table;
    clamp/trim are in-row expressions inside one conditional-aggregation
    pass. Edges round to 6dp in both engines before comparison; clamped
    values go through DECIMAL so the winsorized sum is order-invariant;
    only the final means divide as doubles."""
    o = t(spark, sf_dir, "orders")
    # One percentile buffer for both band edges (array form): two separate
    # percentile() aggregates each build their own per-group value-count
    # map over the same column. Same interpolation, bit-equal edges.
    edges = (
        o.groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(F.percentile(F.col("o_totalprice"), F.lit([0.05, 0.95])).alias("es"))
        .select(
            "pri",
            F.round(F.element_at("es", 1), 6).alias("lo"),
            F.round(F.element_at("es", 2), 6).alias("hi"),
        )
    )
    j = o.join(F.broadcast(edges), o.o_orderpriority == edges.pri)
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    inside = (F.col("o_totalprice") > F.col("lo")) & (F.col("o_totalprice") < F.col("hi"))
    return (
        j.groupBy("pri", "lo", "hi")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(
                F.sum(clamped.cast("decimal(18,6)")).cast("double") / F.count("*"), 6
            ).alias("winsorized_mean"),
            F.sum(F.when(inside, 1).otherwise(0)).cast("bigint").alias("trimmed_n"),
            # Degenerate guard: a group whose values all sit AT the band
            # edges trims to nothing — DuckDB's 0/0 is NULL while Spark's
            # ANSI divide throws, so the zero case must short-circuit.
            F.when(
                F.sum(F.when(inside, 1).otherwise(0)) > 0,
                F.round(
                    F.sum(
                        F.when(
                            inside, F.col("o_totalprice").cast("decimal(18,6)")
                        ).otherwise(F.lit(0).cast("decimal(18,6)"))
                    ).cast("double")
                    / F.sum(F.when(inside, 1).otherwise(0)),
                    6,
                ),
            ).alias("trimmed_mean"),
        )
        .select(
            "pri",
            "n",
            F.round("lo", 2).alias("p05"),
            F.round("hi", 2).alias("p95"),
            "winsorized_mean",
            "trimmed_n",
            "trimmed_mean",
        )
    )


@query(
    "events_lasttouch_attribution",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS) OVER w AS prev_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END
                        IGNORE NULLS) OVER w AS prev_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CASE WHEN prev_type IS NOT NULL
                 AND epoch_us(ts) - prev_us <= 86400000000
                THEN prev_type ELSE 'none' END AS attributed_type,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM ordered WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def events_lasttouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: credit each purchase's value to the
    user's most recent NON-purchase event within the trailing 24 hours
    (else 'none') and roll up count + value per attributed channel — the
    marketing-attribution join every event warehouse answers, done
    without a range self-join.

    Spark-first: ONE window pass per user (``last(..., ignorenulls)``
    over an UNBOUNDED..−1 ROWS frame carries the latest non-purchase
    type and its timestamp together — the two carried columns null out
    on exactly the same rows, so they always describe the same event),
    then a filter to purchases and one aggregation: a single shuffle on
    user_id instead of the O(events × events) interval join. The 24 h
    recency test is exact integer microsecond arithmetic; purchase
    values sum as DECIMAL."""
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    enriched = e.select(
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("prev_type"),
        F.last(F.when(non_purchase, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("prev_us"),
    )
    attributed = F.when(
        F.col("prev_type").isNotNull()
        & ((F.col("us") - F.col("prev_us")) <= 86_400_000_000),
        F.col("prev_type"),
    ).otherwise("none")
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .groupBy(attributed.alias("attributed_type"))
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "dq_k_anonymity",
    oracle="""
    WITH groups AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS grp_n
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_groups,
           CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
             AS exposed_rows,
           CAST(min(grp_n) AS BIGINT) AS k_actual,
           round(CAST(sum(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS DOUBLE)
                 / sum(grp_n), 6) AS exposed_share
    FROM groups
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair (nation, market
    segment): a row is re-identifiable when its QI combination is shared
    by fewer than k=5 rows; reports violating groups, exposed rows, the
    dataset's actual k (the smallest group), and the exposed share — the
    release gate a privacy review runs before publishing any
    "anonymized" extract, next to llmops_pii_redact's column-level scrub.

    Spark-first: ONE grouped count over the QI columns then a one-pass
    roll-up of the |QI-combinations|-row group table — never a
    per-row join back (row-level exposure flags only matter when you
    suppress, and suppression re-uses the same broadcast group table).
    Pure integer arithmetic except the final share."""
    c = t(spark, sf_dir, "customer")
    groups = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("grp_n")
    )
    small = F.col("grp_n") < 5
    return groups.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(F.when(small, 1).otherwise(0)).cast("bigint").alias("violating_groups"),
        F.sum(F.when(small, F.col("grp_n")).otherwise(0))
        .cast("bigint")
        .alias("exposed_rows"),
        F.min("grp_n").cast("bigint").alias("k_actual"),
        F.round(
            F.sum(F.when(small, F.col("grp_n")).otherwise(0)).cast("double")
            / F.sum("grp_n"),
            6,
        ).alias("exposed_share"),
    )


@query(
    "llmops_kl_source_divergence",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS term
      FROM documents
    ), vocab AS (
      SELECT term, CAST(count(*) AS BIGINT) AS g
      FROM toks GROUP BY term ORDER BY g DESC, term LIMIT 200
    ), src_counts AS (
      SELECT t.source, t.term, CAST(count(*) AS BIGINT) AS c
      FROM toks t JOIN vocab v ON v.term = t.term
      GROUP BY 1, 2
    ), srcs AS (SELECT DISTINCT source FROM toks),
    grid AS (
      SELECT s.source, v.term, v.g, coalesce(sc.c, 0) AS c
      FROM srcs s CROSS JOIN vocab v
      LEFT JOIN src_counts sc ON sc.source = s.source AND sc.term = v.term
    ), totals AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS src_tot,
             CAST(sum(sum(c)) OVER () AS BIGINT) AS all_tot
      FROM grid GROUP BY source
    ), terms AS (
      SELECT g.source,
             CAST(round(
               ((g.c + 0.5) / (t.src_tot + 100.0))
               * ln(((g.c + 0.5) / (t.src_tot + 100.0))
                    / ((g.g + 0.5) / (t.all_tot + 100.0))), 10)
               AS DECIMAL(24,10)) AS term_kl
      FROM grid g JOIN totals t ON t.source = g.source
    )
    SELECT source, CAST(round(sum(term_kl), 6) AS DOUBLE) AS kl_divergence
    FROM terms GROUP BY source
    """,
)
def llmops_kl_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution over
    the top-200 vocabulary (Laplace-smoothed): THE language-model drift
    number — a source whose KL jumps is feeding text the model's token
    distribution has not seen, even when KS-on-lengths (llmops_ks_drift)
    and chi-square composition both look calm.

    Spark-first: one tokenize+count pass; the vocabulary is TakeOrdered
    top-200 (never a global rank window); per-source counts against the
    BROADCAST vocab; the |sources|×200 grid restores zero cells (which
    carry positive KL mass under smoothing). Per-term contributions are
    computed in double (identical IEEE sequence), rounded to 10dp, and
    summed as DECIMAL so accumulation order is hash-invariant."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(tokens(F.lower(F.col("text")))).alias("term"))
    # The exploded token stream used to feed THREE differently-keyed
    # consumers (global vocab count, per-source counts, source list),
    # each re-running tokenize+explode — keys differ, so exchange reuse
    # cannot dedupe them. One (source, term) aggregate subsumes all
    # three (global counts = its per-term sum; sources = its key
    # projection — a source appears iff it has ≥1 token, exactly the old
    # distinct's membership) and is cut once. Counts are exact either
    # way; measured warm 1.3-1.7 -> 1.0-1.1 s at sf0.1, row-identical.
    tc = (
        toks.groupBy("source", "term")
        .agg(F.count("*").cast("bigint").alias("c"))
        .transform(cut)
    )
    vocab = (
        tc.groupBy("term")
        .agg(F.sum("c").cast("bigint").alias("g"))
        .orderBy(F.desc("g"), "term")
        .limit(200)
    )
    src_counts = tc.join(F.broadcast(vocab.select("term")), "term").select(
        "source", "term", "c"
    )
    srcs = tc.select("source").distinct()
    grid = (
        srcs.crossJoin(F.broadcast(vocab))
        .join(src_counts, ["source", "term"], "left")
        .select("source", "term", "g", F.coalesce("c", F.lit(0)).alias("c"))
    )
    totals = grid.groupBy("source").agg(F.sum("c").cast("bigint").alias("src_tot"))
    all_tot = totals.agg(F.sum("src_tot").cast("bigint").alias("all_tot"))
    g = grid.join(F.broadcast(totals), "source").crossJoin(F.broadcast(all_tot))
    p = (F.col("c") + 0.5) / (F.col("src_tot") + 100.0)
    q = (F.col("g") + 0.5) / (F.col("all_tot") + 100.0)
    term_kl = F.round(p * F.log(p / q), 10).cast("decimal(24,10)")
    return (
        g.select("source", term_kl.alias("term_kl"))
        .groupBy("source")
        .agg(F.round(F.sum("term_kl"), 6).cast("double").alias("kl_divergence"))
    )


@query(
    "events_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT f.user_id,
             (min(CASE WHEN e.event_type = 'purchase'
                        AND epoch_us(e.ts) > f.s_us
                       THEN epoch_us(e.ts) END) - f.s_us) / 1000000 AS secs
      FROM firsts f JOIN events e ON e.user_id = f.user_id
      WHERE f.s_us IS NOT NULL
      GROUP BY f.user_id, f.s_us
    )
    SELECT CAST(count(*) AS BIGINT) AS n_signup_users,
           CAST(count(secs) AS BIGINT) AS n_converted,
           CASE WHEN count(*) > 0
                THEN round(CAST(count(secs) AS DOUBLE) / count(*), 6)
           END AS conversion_rate,
           CAST(round(quantile_cont(secs, 0.5), 6) AS DOUBLE) AS p50_secs,
           CAST(round(quantile_cont(secs, 0.9), 6) AS DOUBLE) AS p90_secs
    FROM conv
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user who signed up, the
    seconds from FIRST signup to the first subsequent purchase; reports
    converter counts, conversion rate, and exact p50/p90 latencies — the
    funnel's "how fast", complementing events_funnel_conversion's "how
    many".

    Spark-first: ONE conditional aggregation per user computes both the
    first signup and the first qualifying purchase (min over a CASE — no
    events×events self-join, no window pass), then one global percentile
    over the |users|-row result. Timestamps compare as exact integer
    microseconds; only the final percentile interpolation produces
    fractions, rounded identically in both engines."""
    e = t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    per = (
        e.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", us)).alias("s_us"),
        )
        .filter(F.col("s_us").isNotNull())
    )
    conv = (
        e.join(per, "user_id")
        .groupBy("user_id", "s_us")
        .agg(
            (
                (
                    F.min(
                        F.when(
                            (F.col("event_type") == "purchase") & (us > F.col("s_us")),
                            us,
                        )
                    )
                    - F.col("s_us")
                )
                / 1_000_000
            ).alias("secs")
        )
    )
    return conv.agg(
        F.count("*").cast("bigint").alias("n_signup_users"),
        F.count("secs").cast("bigint").alias("n_converted"),
        # No-signups guard: DuckDB's 0/0 is NULL, Spark's ANSI divide throws.
        F.when(
            F.count("*") > 0,
            F.round(F.count("secs").cast("double") / F.count("*"), 6),
        ).alias("conversion_rate"),
        # One percentile buffer for both quantiles (array form; bit-equal).
        F.percentile("secs", F.lit([0.5, 0.9])).alias("ps"),
    ).select(
        "n_signup_users",
        "n_converted",
        "conversion_rate",
        F.round(F.element_at("ps", 1), 6).alias("p50_secs"),
        F.round(F.element_at("ps", 2), 6).alias("p90_secs"),
    )


@query(
    "llmops_dataset_mixture_epochs",
    oracle="""
    WITH per AS (
      SELECT source,
             CAST(sum(length(list_filter(string_split_regex(trim(text), '\\s+'),
                                         x -> length(x) > 0))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), w AS (
      SELECT source, n_tokens,
             CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(24,6)) AS wt
      FROM per
    ), tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS b, sum(wt) AS sw FROM w
    )
    SELECT source, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / b, 6) AS natural_share,
           round(CAST(wt AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS target_share,
           CASE WHEN n_tokens > 0
                THEN round((CAST(wt AS DOUBLE) / CAST(sw AS DOUBLE)) * b
                           / n_tokens, 6) END AS epochs,
           CASE WHEN n_tokens > 0
                THEN (CAST(wt AS DOUBLE) / CAST(sw AS DOUBLE)) * b / n_tokens > 1.0
           END AS oversampled
    FROM w CROSS JOIN tot
    """,
)
def llmops_dataset_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture epoch planner: given per-source token counts and
    a temperature-0.5 target mixture (share ∝ √tokens — the standard
    down-weighting of giant sources), compute how many EPOCHS of each
    source a one-corpus-sized token budget implies — the actual table a
    training run's data loader is configured from (epochs > 1 means the
    source is oversampled/repeated; < 1 means subsampled), one step past
    llmops_temperature_mix's shares.

    Spark-first: one tokenize+aggregate pass to per-source counts
    (|sources| rows), then pure arithmetic against a broadcast one-row
    total. √n is rounded to 6dp and summed as DECIMAL so the mixture
    denominator is accumulation-order-invariant; every downstream ratio
    divides exact components as doubles."""
    d = t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(token_count_ws(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    w = per.select(
        "source",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens").cast("double")), 6)
        .cast("decimal(24,6)")
        .alias("wt"),
    )
    tot = w.agg(
        F.sum("n_tokens").cast("bigint").alias("b"), F.sum("wt").alias("sw")
    )
    share = F.col("wt").cast("double") / F.col("sw").cast("double")
    epochs = share * F.col("b") / F.col("n_tokens")
    # Empty-source guard (all-whitespace documents -> n_tokens 0): DuckDB's
    # x/0 is NULL, Spark's ANSI divide throws.
    has_tokens = F.col("n_tokens") > 0
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("b"), 6).alias(
            "natural_share"
        ),
        F.round(share, 6).alias("target_share"),
        F.when(has_tokens, F.round(epochs, 6)).alias("epochs"),
        F.when(has_tokens, epochs > 1.0).alias("oversampled"),
    )


# The canonical cross-engine type vocabulary for contract checks: both
# engines read the SAME parquet footer, so their logical types must map to
# the same canonical name or the contract is genuinely violated.
_CONTRACT_EXPECTED = [
    ("o_orderkey", "int64"),
    ("o_custkey", "int64"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "float64"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
]
_CONTRACT_VALUES_SQL = ", ".join(f"('{c}', '{ty}')" for c, ty in _CONTRACT_EXPECTED)


@query(
    "dq_schema_contract_check",
    oracle=f"""
    WITH expected(column_name, expected_type) AS (
      VALUES {_CONTRACT_VALUES_SQL}
    ), actual AS (
      SELECT column_name,
             CASE lower(column_type)
               WHEN 'bigint' THEN 'int64'
               WHEN 'integer' THEN 'int32'
               WHEN 'double' THEN 'float64'
               WHEN 'float' THEN 'float32'
               WHEN 'varchar' THEN 'string'
               WHEN 'timestamp' THEN 'timestamp'
               WHEN 'timestamp_ns' THEN 'timestamp'
               WHEN 'date' THEN 'date'
               WHEN 'boolean' THEN 'bool'
               ELSE lower(column_type) END AS actual_type
      FROM (DESCRIBE SELECT * FROM orders)
    )
    SELECT coalesce(e.column_name, a.column_name) AS column_name,
           e.expected_type, a.actual_type,
           e.expected_type IS NOT NULL AND a.actual_type IS NOT NULL
             AND e.expected_type = a.actual_type AS ok
    FROM expected e FULL OUTER JOIN actual a ON a.column_name = e.column_name
    """,
)
def dq_schema_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract gate: the orders table's ACTUAL schema (as each
    engine reads it from the parquet footer) joined against the expected
    column/type contract, one row per column with an ok flag — the
    metadata-level data-quality check that runs BEFORE any row-level
    rule (operators.quality) and catches upstream type drift (int
    widened to string, timestamp downgraded) the moment a bad file
    lands.

    Zero data scan: the Spark side reflects ``df.schema`` (driver-side
    metadata only) and the oracle DESCRIBEs its view — both map their
    engine-native type names onto one canonical vocabulary, so the
    hash-match certifies the MAPPING agrees, not just the check. The
    full-outer join keeps missing AND unexpected columns visible."""
    from pyspark.sql import types as T

    canon_map = {
        T.LongType(): "int64",
        T.IntegerType(): "int32",
        T.DoubleType(): "float64",
        T.FloatType(): "float32",
        T.StringType(): "string",
        T.TimestampType(): "timestamp",
        T.TimestampNTZType(): "timestamp",
        T.DateType(): "date",
        T.BooleanType(): "bool",
    }
    actual_rows = [
        (f.name, canon_map.get(f.dataType, f.dataType.simpleString()))
        for f in t(spark, sf_dir, "orders").schema.fields
    ]
    actual = inline_rows(spark, "column_name string, actual_type string", actual_rows)
    expected = inline_rows(
        spark, "column_name string, expected_type string", _CONTRACT_EXPECTED
    )
    e, a = expected.alias("e"), actual.alias("a")
    return e.join(a, F.col("a.column_name") == F.col("e.column_name"), "full_outer").select(
        F.coalesce(F.col("e.column_name"), F.col("a.column_name")).alias("column_name"),
        F.col("e.expected_type").alias("expected_type"),
        F.col("a.actual_type").alias("actual_type"),
        (
            F.col("e.expected_type").isNotNull()
            & F.col("a.actual_type").isNotNull()
            & (F.col("e.expected_type") == F.col("a.actual_type"))
        ).alias("ok"),
    )


@query(
    "events_dow_hour_profile",
    oracle="""
    WITH cells AS (
      SELECT isodow(ts) AS dow, CAST(strftime(ts, '%H') AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)
    SELECT CAST(dow AS BIGINT) AS dow, hr, n,
           round(CAST(n AS DOUBLE) / total, 6) AS share
    FROM cells CROSS JOIN tot
    """,
)
def events_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: event volume per (ISO weekday, hour)
    cell with its share of total traffic — the 7×24 heatmap behind
    capacity planning and anomaly baselines (events_rate_spike_detect
    compares day-over-day; this is the long-run shape it normalizes
    against).

    Portability: ISO weekday numbering only (Monday=1 … Sunday=7 — both
    engines' default ``dayofweek`` start Sunday at different ordinals,
    a classic cross-engine trap) and a zero-padded hour parsed as an
    integer. hour()/weekday() of an LTZ timestamp read it in the session
    time zone, so both read the UTC wall time ``convert_timezone('UTC',
    ts)`` instead (the oracle reads naive UTC wall times), and the builder
    leaves the session zone alone. One hash aggregation; the total
    broadcasts back."""
    e = t(spark, sf_dir, "events").select(F.expr("convert_timezone('UTC', ts)").alias("ts"))
    cells = e.groupBy(
        (F.expr("weekday(ts)") + 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hr"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    tot = cells.agg(F.sum("n").cast("bigint").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hr",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
    )


# Benford expected first-digit shares log10(1 + 1/d), d=1..9 — materialized
# once in Python and spelled as the SAME double literals in both engines.
import math  # noqa: E402

_BENFORD = [repr(math.log10(1 + 1 / d)) for d in range(1, 10)]


@query(
    "dq_benford_first_digit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), counts AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
    expected(digit, benford_share) AS (
      VALUES {", ".join(f"({d + 1}, {s})" for d, s in enumerate(_BENFORD))}
    )
    SELECT e.digit,
           coalesce(c.n, 0) AS n,
           round(CAST(coalesce(c.n, 0) AS DOUBLE) / total, 6) AS share,
           round(e.benford_share, 6) AS benford_share,
           round(abs(CAST(coalesce(c.n, 0) AS DOUBLE) / total - e.benford_share), 6)
             AS abs_deviation
    FROM expected e LEFT JOIN counts c ON c.digit = e.digit CROSS JOIN tot
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit: the distribution of leading
    digits of order totals against the log10(1+1/d) expectation — the
    classic fabricated-data / truncation detector (organically-generated
    amounts follow Benford; synthetic, capped, or hand-entered ones
    deviate per digit, and the per-digit |deviation| says HOW). All nine
    digits stay visible via the expected-side left join even when a
    digit never occurs.

    Spark-first: the leading digit is pure string arithmetic on the
    integer part (no log10-of-value float comparison at bin edges); one
    map-side-combined count, 9-row expected dim broadcast; the Benford
    shares are Python-materialized double literals spelled identically
    in both engines."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = counts.agg(F.sum("n").cast("bigint").alias("total"))
    expected = inline_rows(
        spark,
        "digit bigint, benford_share double",
        [(d + 1, float(s)) for d, s in enumerate(_BENFORD)],
    )
    share = F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("total")
    return (
        expected.join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.round(share, 6).alias("share"),
            F.round("benford_share", 6).alias("benford_share"),
            F.round(F.abs(share - F.col("benford_share")), 6).alias("abs_deviation"),
        )
    )


@query(
    "agg_gini_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
             sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      FROM orders GROUP BY 1, 2
    ), ranked AS (
      SELECT pri, rev,
             CAST(row_number() OVER (PARTITION BY pri ORDER BY rev, d) AS BIGINT) AS rk
      FROM daily
    )
    SELECT pri,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(round(sum(rev), 2) AS DOUBLE) AS total_rev,
           round(2.0 * CAST(sum(CAST(rk AS DECIMAL(18,0)) * rev) AS DOUBLE)
                 / (count(*) * CAST(sum(rev) AS DOUBLE))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM ranked GROUP BY pri
    """,
)
def agg_gini_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of daily revenue per order priority — the
    inequality/concentration number (0 = every day earns the same,
    →1 = a few days carry everything) a capacity planner reads next to
    the seasonality profile; computed by the exact sorted formula
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n.

    Spark-first: the fact scan collapses to the |priorities|×|days|
    daily grid first, so the rank window that exact Gini inherently
    needs runs PARTITIONED BY PRIORITY over calendar-bounded rows —
    never a global sort of raw orders. Revenues and the rank-weighted
    sum stay DECIMAL (exact) with ties broken by date; only the final
    G divides as double."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"))
    w = W.partitionBy("pri").orderBy("rev", "d")
    ranked = daily.select(
        "pri", "rev", F.row_number().over(w).cast("bigint").alias("rk")
    )
    n = F.count("*")
    sum_rev = F.sum("rev")
    weighted = F.sum(F.col("rk").cast("decimal(18,0)") * F.col("rev"))
    return ranked.groupBy("pri").agg(
        n.cast("bigint").alias("n_days"),
        F.round(sum_rev, 2).cast("double").alias("total_rev"),
        F.round(
            2.0 * weighted.cast("double") / (n * sum_rev.cast("double"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


@query(
    "events_journey_pattern_match",
    oracle="""
    WITH journeys AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS journey
      FROM events
      WHERE ts IS NOT NULL AND event_id IS NOT NULL
      GROUP BY user_id
    ), pats(pattern) AS (
      VALUES ('v.*c.*p'), ('s.*p'), ('e.*e.*e'), ('^v')
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM journeys)
    SELECT p.pattern,
           CAST(sum(CASE WHEN regexp_matches(j.journey, p.pattern)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           tot.n_users,
           round(CAST(sum(CASE WHEN regexp_matches(j.journey, p.pattern)
                              THEN 1 ELSE 0 END) AS DOUBLE) / tot.n_users, 6)
             AS match_share
    FROM pats p CROSS JOIN journeys j CROSS JOIN tot
    GROUP BY p.pattern, tot.n_users
    """,
)
def events_journey_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over user journeys (MATCH_RECOGNIZE /
    CEP-lite): each user's ordered event-type initials collapse into a
    journey string, and behavior patterns become plain regexes over it —
    "viewed then clicked then purchased" is ``v.*c.*p`` — with per-
    pattern match counts and shares. This is the portable re-expression
    of SQL MATCH_RECOGNIZE / Flink CEP for patterns without quantifier
    backtracking semantics.

    Spark-first: journeys build with ONE shuffle on user_id (sort_array
    of (ts, event_id, initial) structs inside the aggregation — struct
    field order IS the sort key, so ordering is total and engine-
    identical); the 4-row pattern dim broadcasts and the regex battery
    runs in-row. Regexes stay in the Java∩RE2 common subset (``.``,
    ``*``, ``^`` — no backrefs or lookahead, which RE2 lacks). Events
    with a NULL ts or event_id are excluded in BOTH engines — they have
    no position in an ordered journey, and the engines' null-sort
    directions differ (Spark struct sort: nulls first; SQL ORDER BY
    default: nulls last), so keeping them would be a latent hash
    divergence."""
    e = t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_id").isNotNull()
    )
    journeys = (
        e.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("i")
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.sort_array(F.collect_list("s")), lambda s: s["i"]), ""
            ).alias("journey")
        )
    )
    pats = inline_rows(
        spark, "pattern string", [("v.*c.*p",), ("s.*p",), ("e.*e.*e",), ("^v",)]
    )
    tot = journeys.agg(F.count("*").cast("bigint").alias("n_users"))
    matched = F.when(
        F.expr("journey RLIKE pattern"), 1
    ).otherwise(0)
    return (
        F.broadcast(pats)
        .crossJoin(journeys)
        .crossJoin(F.broadcast(tot))
        .groupBy("pattern", "n_users")
        .agg(
            F.sum(matched).cast("bigint").alias("n_matched"),
            F.round(F.sum(matched).cast("double") / F.first("n_users"), 6).alias(
                "match_share"
            ),
        )
        .select("pattern", "n_matched", "n_users", "match_share")
    )


def _dp_u(h: str) -> str:
    """SQL: seeded uniform strictly inside (0, 1) from 24 md5 bits —
    +0.5 centering keeps both tails away from 0 and 1, so the Laplace
    inverse-CDF below can never hit ln(0)."""
    from batch_public_spark.plans.curation_queries import _hex3

    return f"(({_hex3(h, 1)} * 4096 + {_hex3(h, 4)} + 0.5) / 16777216.0)"


_DP_DUCK_H = "md5(event_type || ':dp')"
_DP_SPARK_H = "md5(concat(event_type, ':dp'))"
_DP_B = 2.0  # Laplace scale b = sensitivity/epsilon = 1/0.5


def _dp_noise(h: str) -> str:
    """SQL: Laplace(b=2) noise via inverse CDF of the seeded uniform:
    -b * sign(u - 0.5) * ln(1 - 2*abs(u - 0.5))."""
    u = _dp_u(h)
    return (
        f"(-{_DP_B} * sign({u} - 0.5) * ln(1 - 2 * abs({u} - 0.5)))"
    )


@query(
    "dq_dp_noisy_counts",
    oracle=f"""
    WITH g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_true FROM events
      GROUP BY event_type
    )
    SELECT event_type, n_true,
           round(n_true + {_dp_noise(_DP_DUCK_H)}, 6) AS noisy_count,
           round(abs({_dp_noise(_DP_DUCK_H)}), 6) AS noise_abs
    FROM g
    """,
)
def dq_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-style released counts: per-event-type counts
    plus Laplace(b = sensitivity/ε = 1/0.5) noise drawn ONCE per released
    statistic via the inverse CDF of a seeded md5 uniform — the classic
    Laplace mechanism with the randomness made deterministic so the whole
    release is replayable and oracle-hashable (a REAL deployment swaps
    the seeded uniform for a CSPRNG draw; every other part of the plan —
    per-statistic draws, sensitivity bookkeeping, post-processing
    rounding — is exactly what it would run). The true count is emitted
    alongside so the noise magnitude is auditable in tests.

    Spark-first: one map-side-combined count aggregation; the noise is a
    row-local expression over the 5 released rows — privacy adds ZERO
    distributed work beyond the aggregate itself, which is the point of
    the Laplace mechanism at scale. The uniform's 24-bit numerator is
    integer-exact in both engines; sign/ln/abs are one libm call each
    (the llmops_weighted_sample -LN discipline), rounded at 1e-6."""
    e = t(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n_true"))
    noise = F.expr(_dp_noise(_DP_SPARK_H))
    return g.select(
        "event_type",
        "n_true",
        F.round(F.col("n_true") + noise, 6).alias("noisy_count"),
        F.round(F.abs(noise), 6).alias("noise_abs"),
    )


@query(
    "llmops_vocab_coverage_curve",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS term
      FROM documents
    ), counts AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY term
    ), ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rk FROM counts
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts),
    ks AS (SELECT unnest([5, 15, 30]) AS k)
    SELECT ks.k AS vocab_size,
           CAST(sum(CASE WHEN r.rk <= ks.k THEN r.n ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           round(sum(CASE WHEN r.rk <= ks.k THEN r.n ELSE 0 END) * 1.0
                 / max(tot.t), 6) AS coverage
    FROM ranked r CROSS JOIN ks CROSS JOIN tot
    GROUP BY ks.k
    """,
)
def llmops_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the share of the corpus token mass
    covered by the top-k most frequent terms — the planning number
    behind tokenizer vocabulary sizing and OOV budgets (complements
    llmops_zipf_slope, which fits the SHAPE of the same distribution,
    and llmops_oov_rate, which fixes one vocabulary and measures the
    tail). k ∈ {5, 15, 30} here because the synthetic fixture's entire
    vocabulary is 31 terms (coverage 0.17/0.51/1.00 at sf0.01 — a real
    curve; production k's are 10³–10⁵ against the same plan) — the
    fixture-calibration rule: a k beyond the vocabulary hashes a
    constant 1.0 and verifies nothing.

    Spark-first: term counts are one explode + map-side-combined count;
    the k-selection is ``orderBy(n DESC, term).limit(1000)`` — a
    TakeOrdered reduction, never a rank window over the full vocabulary
    (tens of millions of terms at 100 TB) — and the three coverage
    points are conditional sums over the 1000 bounded-rank survivors
    (a production-shaped limit ≥ max(k), so the restricted sums equal
    the oracle's full-vocabulary sums exactly) with the corpus total
    broadcast on."""
    d = t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    top = counts.orderBy(F.desc("n"), "term").limit(1000)
    wr = W.partitionBy(bounded_window_key(F.col("n"))).orderBy(F.desc("n"), "term")
    ranked = top.select("n", F.row_number().over(wr).alias("rk"))
    tot = counts.agg(F.sum("n").cast("bigint").alias("t"))
    sums = ranked.agg(
        *[
            F.sum(F.when(F.col("rk") <= k, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias(f"c{k}")
            for k in (5, 15, 30)
        ]
    )
    rows = sums.crossJoin(F.broadcast(tot)).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("bigint").alias("vocab_size"),
                        F.col(f"c{k}").alias("covered_tokens"),
                        F.round(F.col(f"c{k}") / F.col("t").cast("double"), 6).alias(
                            "coverage"
                        ),
                    )
                    for k in (5, 15, 30)
                ]
            )
        ).alias("r")
    )
    return rows.select("r.*")


@query(
    "llmops_char_entropy_quality",
    oracle="""
    WITH chars AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), '')) AS c
      FROM documents
    ), freq AS (
      SELECT doc_id, lang, c, CAST(count(*) AS BIGINT) AS k
      FROM chars WHERE c <> '' GROUP BY 1, 2, 3
    ), per_doc AS (
      SELECT doc_id, lang,
             CAST(round(
               (ln(sum(k)) - CAST(sum(CAST(round(k * ln(k), 9)
                                           AS DECIMAL(18,9))) AS DOUBLE) / sum(k))
               / ln(2), 6) AS DECIMAL(18,6)) AS h_bits
      FROM freq GROUP BY doc_id, lang HAVING sum(k) > 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(h_bits) AS DOUBLE) / count(*), 6) AS avg_entropy_bits,
           round(CAST(min(h_bits) AS DOUBLE), 6) AS min_entropy_bits,
           round(CAST(max(h_bits) AS DOUBLE), 6) AS max_entropy_bits
    FROM per_doc GROUP BY lang
    """,
)
def llmops_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document, aggregated per
    language — the quality signal orthogonal to the length/punct/
    stopword ratios of llmops_quality_filter: binary-ish or
    single-character-flood junk scores near 0 bits, encrypted/base64
    blobs score near log2(alphabet), natural language sits in between
    (per-language bands; the min per lang is the outlier-review queue).

    Spark-first: explode to (doc, char), ONE map-side-combined count to
    (doc, char, k) — the per-doc alphabet is dozens of rows, so the
    shuffle carries |docs|×|alphabet|, far below the raw char stream —
    then the entropy identity H = (ln n − Σ k·ln k / n)/ln 2 needs only
    per-doc sums of k and k·ln k: the k·ln k terms round at 1e-9 into
    DECIMAL before the cross-row sum, so per-doc entropy (and the
    per-language mean over 1e-6-rounded DECIMALs) is
    partitioning-independent; ln is one libm call per DISTINCT (doc,
    char), the llmops_weighted_sample discipline."""
    d = t(spark, sf_dir, "documents")
    freq = (
        d.select("doc_id", "lang", F.explode(F.expr("split(lower(text), '')")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("doc_id", "lang", "c")
        .agg(F.count("*").cast("bigint").alias("k"))
    )
    kln = F.round(F.col("k") * F.log(F.col("k")), 9).cast("decimal(18,9)")
    per_doc = (
        freq.select("doc_id", "lang", "k", kln.alias("kln"))
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                (
                    F.log(F.sum("k").cast("double"))
                    - F.sum("kln").cast("double") / F.sum("k")
                )
                / F.log(F.lit(2.0)),
                6,
            )
            .cast("decimal(18,6)")
            .alias("h_bits")
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.sum("h_bits").cast("double") / F.count("*"), 6).alias(
            "avg_entropy_bits"
        ),
        F.round(F.min("h_bits").cast("double"), 6).alias("min_entropy_bits"),
        F.round(F.max("h_bits").cast("double"), 6).alias("max_entropy_bits"),
    )


@query(
    "dq_mannwhitney_length_drift",
    oracle="""
    WITH grid AS (
      SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1
    ), ranked AS (
      SELECT v, cnt,
             coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1) / 2.0 AS avg_rank
      FROM grid
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_t
      FROM grid
    ), per AS (
      SELECT d.source,
             CAST(count(*) AS BIGINT) AS n1,
             sum(r.avg_rank) AS r1
      FROM documents d JOIN ranked r ON r.v = d.n_chars
      GROUP BY d.source
    )
    SELECT p.source, p.n1,
           round(p.r1 - p.n1 * (p.n1 + 1) / 2.0, 1) AS u_stat,
           CASE WHEN t.n > 1 THEN
             CASE WHEN p.n1 * 1.0 * (t.n - p.n1) / 12.0
                       * ((t.n + 1) - t.tie_t * 1.0 / (t.n * (t.n - 1.0))) > 0
               THEN round((p.r1 - p.n1 * (p.n1 + 1) / 2.0
                           - p.n1 * (t.n - p.n1) / 2.0)
                          / sqrt(p.n1 * 1.0 * (t.n - p.n1) / 12.0
                                 * ((t.n + 1)
                                    - t.tie_t * 1.0 / (t.n * (t.n - 1.0)))), 6)
             END
           END AS z_score
    FROM per p CROSS JOIN tot t
    """,
)
def dq_mannwhitney_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) drift gate: for each source, test whether
    its document-length distribution differs from the rest of the corpus —
    the nonparametric two-sample test that complements KS (llmops_ks_drift
    reads the max CDF gap; the rank-sum z-score reads the location shift,
    is robust to outliers, and needs no binning). The tie-corrected normal
    approximation is the textbook form: U = R1 − n1(n1+1)/2, z =
    (U − n1·n2/2) / sqrt(n1·n2/12 · ((n+1) − ΣT(t³−t)/(n(n−1)))).

    Spark-first: ranks never touch a per-row global window — average ranks
    come from cumulative counts over the distinct-length GRID (the
    llmops_quantile_normalize idiom; |grid| is bounded by the length
    domain), broadcast-joined back onto the corpus, and every per-source
    term reduces in one hash aggregation. Average ranks are exact
    multiples of 0.5, so the rank sums are order-independent in doubles;
    the one float expression (z) is an identical tree in both engines."""
    d = t(spark, sf_dir, "documents")
    grid = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    gw = W.partitionBy(bounded_window_key(F.col("v"))).orderBy("v")
    ranked = grid.select(
        "v",
        (
            F.coalesce(
                F.sum("cnt").over(gw.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
            )
            + (F.col("cnt") + 1) / 2.0
        ).alias("avg_rank"),
    )
    tot = grid.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("bigint")
        .alias("tie_t"),
    )
    per = (
        d.join(F.broadcast(ranked), d.n_chars == ranked.v)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n1"),
            F.sum("avg_rank").alias("r1"),
        )
    )
    n = F.col("n").cast("double")
    n1 = F.col("n1").cast("double")
    u = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2.0
    # Derived-divisor guard (r7 ADVICE): sigma degenerates to 0 when one
    # source holds the whole corpus (n1 = n), when ties zero the variance
    # (all lengths equal), or at n = 1 (n(n-1) = 0 inside the tie term —
    # guarded first so the division never runs under ANSI mode). NULL
    # z-score on every degenerate path; CaseWhen evaluates lazily so the
    # divisions only execute on the defined branch, mirroring the nested
    # CASE in the DuckDB oracle.
    var = F.when(
        n > 1.0,
        n1 * (n - n1) / 12.0 * ((n + 1) - F.col("tie_t") * 1.0 / (n * (n - 1.0))),
    )
    z = F.when(var > 0.0, F.round((u - n1 * (n - n1) / 2.0) / F.sqrt(var), 6))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n1",
        F.round(u, 1).alias("u_stat"),
        z.alias("z_score"),
    )


@query(
    "dq_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT event_type, isodow(ts) AS dow, CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ), rows_ AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rl FROM cells GROUP BY 1),
    cols_ AS (SELECT dow, CAST(sum(o) AS BIGINT) AS cl FROM cells GROUP BY 1),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    grid AS (
      SELECT r.event_type, c.dow, r.rl, c.cl, coalesce(x.o, 0) AS o
      FROM rows_ r CROSS JOIN cols_ c
      LEFT JOIN cells x ON x.event_type = r.event_type AND x.dow = c.dow
    ), terms AS (
      SELECT CAST(round(
               (o - CAST(rl AS DOUBLE) * cl / n.n)
               * (o - CAST(rl AS DOUBLE) * cl / n.n)
               / (CAST(rl AS DOUBLE) * cl / n.n), 10) AS DECIMAL(24,10)) AS term
      FROM grid CROSS JOIN n
    ), chi AS (
      SELECT CAST(round(sum(term), 10) AS DOUBLE) AS chi2,
             (SELECT count(*) FROM rows_) AS r,
             (SELECT count(*) FROM cols_) AS c,
             (SELECT n FROM n) AS n
      FROM terms
    )
    SELECT CAST(round(chi2, 6) AS DOUBLE) AS chi2,
           CAST(r AS BIGINT) AS n_rows,
           CAST(c AS BIGINT) AS n_cols,
           n,
           CASE WHEN least(r - 1, c - 1) > 0 AND n > 0
                THEN round(sqrt(chi2 / (n * least(r - 1, c - 1))), 6)
           END AS cramers_v
    FROM chi
    """,
)
def dq_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event_type × day-of-week contingency:
    chi-square answers "is activity mix independent of weekday?" but its
    magnitude grows with N, so at 100 TB every cell is "significant" — V =
    sqrt(chi²/(N·min(r−1,c−1))) is the N-invariant [0,1] association
    strength a monitoring gate can threshold (the companion to
    llmops_chi2_independence, which emits the raw statistic for p-value
    lookup).

    Spark-first: one grouped count builds the cells; marginals re-aggregate
    the cells; the dense r×c grid restores observed-zero cells. Per-cell
    terms are computed in double (identical IEEE sequence both engines),
    rounded to 10dp, summed as DECIMAL (order-invariant), and V derives
    from that already-pinned chi² — so the sqrt sees bit-identical input.
    The derived divisor n·min(r−1,c−1) is guarded (> 0): a single-row or
    single-column table has undefined V, not a DIVIDE_BY_ZERO crash."""
    d = t(spark, sf_dir, "events")
    # The bounded r×c cell grid feeds FOUR consumers (row marginals,
    # column marginals, N, and the dense grid join), each with a
    # different grouping — ReuseExchange cannot dedupe them, so without a
    # cut the event scan re-inlines into each (r15: 7 scans in the
    # executed plan).
    cells = (
        d.select("event_type", F.dayofweek(F.date_sub("ts", 1)).alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count("*").cast("bigint").alias("o"))
        .transform(cut)
    )
    rows_ = cells.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("rl"))
    cols_ = cells.groupBy("dow").agg(F.sum("o").cast("bigint").alias("cl"))
    n = cells.agg(F.sum("o").cast("bigint").alias("n"))
    grid = (
        rows_.crossJoin(F.broadcast(cols_))
        .join(cells, ["event_type", "dow"], "left")
        .select("rl", "cl", F.coalesce("o", F.lit(0)).alias("o"))
    )
    e = F.col("rl").cast("double") * F.col("cl") / F.col("n")
    term = F.round((F.col("o") - e) * (F.col("o") - e) / e, 10).cast(
        "decimal(24,10)"
    )
    chi = (
        grid.crossJoin(F.broadcast(n))
        .agg(F.round(F.sum(term), 10).cast("double").alias("chi2"))
        .crossJoin(F.broadcast(rows_.agg(F.count("*").alias("r"))))
        .crossJoin(F.broadcast(cols_.agg(F.count("*").alias("c"))))
        .crossJoin(F.broadcast(n))
    )
    dof = F.least(F.col("r") - 1, F.col("c") - 1)
    return chi.select(
        F.round("chi2", 6).cast("double").alias("chi2"),
        F.col("r").cast("bigint").alias("n_rows"),
        F.col("c").cast("bigint").alias("n_cols"),
        "n",
        F.when(
            (dof > 0) & (F.col("n") > 0),
            F.round(F.sqrt(F.col("chi2") / (F.col("n") * dof)), 6),
        ).alias("cramers_v"),
    )


@query(
    "dq_js_divergence",
    oracle="""
    WITH b AS (
      -- floor(), not CAST: DuckDB CAST(double AS BIGINT) rounds-to-nearest
      -- where Spark's cast truncates
      SELECT source, CAST(floor(n_chars / 50) AS BIGINT) AS bin
      FROM documents
    ), cells AS (
      SELECT source, bin, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY 1, 2
    ), bins AS (SELECT bin, CAST(sum(c) AS BIGINT) AS g FROM cells GROUP BY 1),
    srcs AS (SELECT source, CAST(sum(c) AS BIGINT) AS n1 FROM cells GROUP BY 1),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    grid AS (
      SELECT s.source, s.n1, bn.bin, bn.g, coalesce(c.c, 0) AS c, n.n
      FROM srcs s CROSS JOIN bins bn CROSS JOIN n
      LEFT JOIN cells c ON c.source = s.source AND c.bin = bn.bin
    ), terms AS (
      SELECT source,
             CAST(round(
               CASE WHEN c * 1.0 / n1 > 0
                    THEN 0.5 * (c * 1.0 / n1)
                         * ln((c * 1.0 / n1)
                              / (((c * 1.0 / n1)
                                  + ((g - c) * 1.0 / (n - n1))) / 2))
                    ELSE 0 END
               + CASE WHEN (g - c) * 1.0 / (n - n1) > 0
                      THEN 0.5 * ((g - c) * 1.0 / (n - n1))
                           * ln(((g - c) * 1.0 / (n - n1))
                                / (((c * 1.0 / n1)
                                    + ((g - c) * 1.0 / (n - n1))) / 2))
                      ELSE 0 END, 10) AS DECIMAL(24,10)) AS term
      FROM grid WHERE n > n1
    )
    SELECT source, CAST(round(sum(term), 6) AS DOUBLE) AS js_divergence
    FROM terms GROUP BY source
    """,
)
def dq_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's document-length
    distribution (50-char bins) and the REST of the corpus — the bounded
    [0, ln 2], symmetric drift number that complements KL
    (llmops_kl_source_divergence): KL explodes when a source has mass in
    bins the reference lacks; JS stays finite, so one threshold works
    across sources of any size, and it needs no smoothing constant.

    Spark-first: one grouped count builds (source, bin) cells; the global
    per-bin counts re-aggregate the cells; the dense sources×bins grid
    restores zero cells (P-zero bins still carry Q-side mass — ½q·ln 2).
    The rest-of-corpus distribution is derived by SUBTRACTION (g − c over
    n − n1) from the same exact integers — no second scan, no self-join.
    Each bin's term is an identical IEEE double expression in both
    engines, rounded to 10dp and summed as DECIMAL so accumulation order
    can't move the hash. Sources covering the whole corpus (n = n1, Q
    undefined) are excluded by construction rather than dividing by
    zero."""
    d = t(spark, sf_dir, "documents")
    cells = d.select(
        "source", (F.col("n_chars") / F.lit(50)).cast("bigint").alias("bin")
    ).groupBy("source", "bin").agg(F.count("*").cast("bigint").alias("c"))
    bins = cells.groupBy("bin").agg(F.sum("c").cast("bigint").alias("g"))
    srcs = cells.groupBy("source").agg(F.sum("c").cast("bigint").alias("n1"))
    n = cells.agg(F.sum("c").cast("bigint").alias("n"))
    grid = (
        srcs.crossJoin(F.broadcast(bins))
        .crossJoin(F.broadcast(n))
        .join(cells, ["source", "bin"], "left")
        .select(
            "source", "n1", "g", F.coalesce("c", F.lit(0)).alias("c"), "n"
        )
        .filter(F.col("n") > F.col("n1"))
    )
    p = F.col("c") * 1.0 / F.col("n1")
    q = (F.col("g") - F.col("c")) * 1.0 / (F.col("n") - F.col("n1"))
    m = (p + q) / 2
    term = F.round(
        F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0)),
        10,
    ).cast("decimal(24,10)")
    return grid.groupBy("source").agg(
        F.round(F.sum(term), 6).cast("double").alias("js_divergence")
    )


@query(
    "dq_autocorr_lag",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT event_type, n AS x,
             lag(n) OVER (PARTITION BY event_type ORDER BY d) AS y
      FROM daily
    ), pairs AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS np,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM lagged WHERE y IS NOT NULL GROUP BY 1
    )
    SELECT event_type, np AS n_pairs,
           CASE WHEN (np * sxx - sx * sx) > 0 AND (np * syy - sy * sy) > 0
                THEN round((np * sxy - sx * sy)
                           / sqrt((np * sxx - sx * sx) * 1.0)
                           / sqrt((np * syy - sy * sy) * 1.0), 6)
           END AS lag1_autocorr
    FROM pairs
    """,
)
def dq_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event volume per type — the
    seasonality/momentum gate that complements the level monitors (EWMA,
    CUSUM, spike detection): near-zero means volume is memoryless noise,
    strongly positive means trending load (autoscaling and
    drift-attribution care), strongly negative means oscillation (a
    retry storm or a batch/interactive alternation). One number per
    event_type, windowless to threshold.

    Spark-first: daily counts are one grouped aggregation; the lag pairs
    come from a lag() window over the tiny per-type daily series
    (|days| rows per partition, bounded); every correlation component
    (Σx, Σy, Σxy, Σx², Σy²) is an EXACT BIGINT, so the only float is the
    final Pearson expression — one identical IEEE tree in both engines,
    with the two sqrt factors divided SEQUENTIALLY so neither product can
    underflow, and NULL when either variance term degenerates (constant
    series — the derived-divisor guard class)."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = W.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        F.col("n").alias("x"),
        F.lag("n").over(w).alias("y"),
    ).filter(F.col("y").isNotNull())
    pairs = lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("np"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    vx = F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")
    return pairs.select(
        "event_type",
        F.col("np").alias("n_pairs"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(num / F.sqrt(vx * 1.0) / F.sqrt(vy * 1.0), 6),
        ).alias("lag1_autocorr"),
    )


@query(
    "dq_welch_ttest_drift",
    oracle="""
    WITH per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n1,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS q1
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(n1) AS BIGINT) AS n,
             CAST(sum(s1) AS BIGINT) AS s,
             CAST(sum(q1) AS BIGINT) AS q
      FROM per
    ), m AS (
      SELECT p.source, p.n1, t.n - p.n1 AS n2,
             p.s1 * 1.0 / p.n1 AS m1,
             (t.s - p.s1) * 1.0 / (t.n - p.n1) AS m2,
             (p.q1 - p.s1 * 1.0 * p.s1 / p.n1) / (p.n1 - 1) AS v1,
             ((t.q - p.q1) - (t.s - p.s1) * 1.0 * (t.s - p.s1) / (t.n - p.n1))
               / ((t.n - p.n1) - 1) AS v2
      FROM per p CROSS JOIN tot t
    ), se AS (
      SELECT source, n1, n2, m1, m2, v1, v2,
             v1 / n1 + v2 / n2 AS se2
      FROM m
    )
    SELECT source, n1,
           round(m1 - m2, 6) AS mean_gap,
           CASE WHEN n1 > 1 AND n2 > 1 AND se2 > 0
                THEN round((m1 - m2) / sqrt(se2), 6) END AS t_stat,
           CASE WHEN n1 > 1 AND n2 > 1 AND se2 > 0
                THEN round(se2 * se2
                           / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                              + (v2 / n2) * (v2 / n2) / (n2 - 1)), 6)
           END AS df_welch
    FROM se
    """,
)
def dq_welch_ttest_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test drift gate: for each source, test
    whether its mean document length differs from the rest of the corpus.
    The parametric member of the drift battery — KS reads the max CDF gap,
    Mann-Whitney the rank-location shift, Welch the mean shift with a
    variance-weighted standard error and the Welch-Satterthwaite effective
    degrees of freedom: t = (m1-m2)/sqrt(v1/n1 + v2/n2), df =
    se2^2 / ((v1/n1)^2/(n1-1) + (v2/n2)^2/(n2-1)). Unlike Student's
    pooled-variance t, it stays calibrated when one source is both small
    and noisy — exactly the "new crawl snapshot" case the gate exists for.

    Parity discipline: both engines aggregate the exact integer sums
    (sum v, sum v^2 as BIGINT — no engine-specific Welford/naive variance
    path), then evaluate the IDENTICAL double expression tree, so the
    rounded statistics are bit-equal. The complement's moments come from
    the global totals minus the group's (one scan, no self-join). Degenerate
    groups (n<2 on either side, zero pooled spread) yield NULL via the
    se2 > 0 guard — the derived-divisor discipline from the r7 sweep.

    Spark-first: one shuffle on source; the totals row is a broadcast
    cross join (single row). 100 TB posture: per-source stats are a
    map-side partial aggregation, the test itself runs on a |sources|-row
    table."""
    docs = t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n1"),
        F.sum("n_chars").cast("bigint").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("q1"),
    )
    tot = per.agg(
        F.sum("n1").cast("bigint").alias("n"),
        F.sum("s1").cast("bigint").alias("s"),
        F.sum("q1").cast("bigint").alias("q"),
    )
    m = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n1",
        (F.col("n") - F.col("n1")).alias("n2"),
        F.try_divide(F.col("s1") * F.lit(1.0), F.col("n1")).alias("m1"),
        F.try_divide((F.col("s") - F.col("s1")) * F.lit(1.0), F.col("n") - F.col("n1")).alias("m2"),
        # try_divide everywhere a pathological slice can zero a divisor
        # (single-row source, empty complement) — `ok` below already NULLs
        # the emission for those rows, this just keeps ANSI mode from
        # throwing before `ok` is evaluated; values unchanged on real data
        F.try_divide(
            F.col("q1") - F.try_divide(F.col("s1") * F.lit(1.0) * F.col("s1"), F.col("n1")),
            F.col("n1") - F.lit(1),
        ).alias("v1"),
        F.try_divide(
            (F.col("q") - F.col("q1"))
            - F.try_divide(
                (F.col("s") - F.col("s1")) * F.lit(1.0) * (F.col("s") - F.col("s1")),
                F.col("n") - F.col("n1"),
            ),
            (F.col("n") - F.col("n1")) - F.lit(1),
        ).alias("v2"),
    )
    se = m.withColumn(
        "se2",
        F.try_divide(F.col("v1"), F.col("n1")) + F.try_divide(F.col("v2"), F.col("n2")),
    )
    ok = (F.col("n1") > 1) & (F.col("n2") > 1) & (F.col("se2") > 0)
    return se.select(
        "source",
        "n1",
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_gap"),
        F.when(ok, F.round((F.col("m1") - F.col("m2")) / F.sqrt("se2"), 6)).alias(
            "t_stat"
        ),
        F.when(
            ok,
            F.round(
                F.col("se2")
                * F.col("se2")
                / (
                    F.try_divide(F.col("v1"), F.col("n1"))
                    * F.try_divide(F.col("v1"), F.col("n1"))
                    / (F.col("n1") - F.lit(1))
                    + F.try_divide(F.col("v2"), F.col("n2"))
                    * F.try_divide(F.col("v2"), F.col("n2"))
                    / (F.col("n2") - F.lit(1))
                ),
                6,
            ),
        ).alias("df_welch"),
    )


@query(
    "llmops_code_detect",
    oracle="""
    WITH marked AS (
      SELECT doc_id, source,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0', '1', '2') AS injected,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('0', '1', '2')
                  THEN '{ ' || replace(text, ' ', '; ') || ' };'
                  ELSE text END AS body
      FROM documents
    ), feat AS (
      SELECT doc_id, source, injected,
             CAST(length(body) AS BIGINT) AS n_chars,
             CAST((length(body) - length(replace(body, ';', '')))
                + (length(body) - length(replace(body, '{', '')))
                + (length(body) - length(replace(body, '}', '')))
                AS BIGINT) AS n_special
      FROM marked
    )
    SELECT doc_id, source, injected, n_chars, n_special,
           round(n_special * 1.0 / n_chars, 6) AS special_ratio,
           n_special * 20 >= n_chars AS is_code
    FROM feat
    """,
)
def llmops_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detector — the corpus-partitioning filter every mixed
    web crawl runs before routing documents to code or text pipelines:
    score each document by its special-character density (';', '{', '}')
    and flag is_code when ≥ 1/20 of characters are code punctuation. The
    prose fixture contains none, so a deterministic md5-keyed 3/16 subset
    of documents is code-ified IN-QUERY (semicolon-joined tokens inside a
    brace block — the mojibake-detector pattern: ground truth travels
    with the query, the hash attests the detector's counts and decision
    boundary on both populations, and the md5 keying decorrelates the
    injection from doc_id's round-robin source assignment, so every
    source carries both classes). The decision is integer-exact
    (n_special·20 ≥ n_chars — no float at the boundary, the
    quality-classifier discipline).

    Spark-first: pure scalar pipeline riding the scan — replace/length
    arithmetic inside whole-stage codegen, zero shuffles, zero UDFs. At
    100 TB this is a free rider on the first read of the corpus."""
    d = t(spark, sf_dir, "documents")
    injected = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1", "2"
    )
    body = F.when(
        injected,
        F.concat(F.lit("{ "), F.regexp_replace("text", " ", "; "), F.lit(" };")),
    ).otherwise(F.col("text"))
    marked = d.select(
        "doc_id", "source", injected.alias("injected"), body.alias("body")
    )

    def n_occ(ch):
        return F.length("body") - F.length(F.regexp_replace("body", "\\" + ch, ""))

    feat = marked.select(
        "doc_id",
        "source",
        "injected",
        F.length("body").cast("bigint").alias("n_chars"),
        (n_occ(";") + n_occ("{") + n_occ("}")).cast("bigint").alias("n_special"),
    )
    return feat.select(
        "doc_id",
        "source",
        "injected",
        "n_chars",
        "n_special",
        # try_divide: zero-length doc (pathological gate); values unchanged
        # on real data — n_chars >= 1 on every fixture row
        F.round(F.try_divide(F.col("n_special") * F.lit(1.0), F.col("n_chars")), 6).alias(
            "special_ratio"
        ),
        (F.col("n_special") * 20 >= F.col("n_chars")).alias("is_code"),
    )


@query(
    "llmops_watermark_detect",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    per AS (
      SELECT doc_id, source,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(COALESCE(list_sum(list_transform(toks,
                    x -> CASE WHEN substring(md5('g:' || lower(x)), 1, 1)
                                   IN ('0','1','2','3','4','5','6','7')
                              THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_green
      FROM d
    )
    SELECT doc_id, source, n_tokens, n_green,
           CASE WHEN n_tokens > 0
                THEN round((n_green - 0.5e0 * n_tokens)
                           / sqrt(n_tokens * 0.25e0), 6) END AS z_score,
           CASE WHEN n_tokens > 0
                THEN (n_green - 0.5e0 * n_tokens)
                     / sqrt(n_tokens * 0.25e0) > 4.0e0
                ELSE FALSE END AS watermark_detected
    FROM per
    """,
)
def llmops_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical text-watermark detector (Kirchenbauer-style green-list
    test): a generation-time watermark biases sampling toward a
    pseudorandom "green" half of the vocabulary, so detection is a
    one-proportion z-test — count tokens whose seeded hash lands green
    (γ = 0.5 via the md5 first hex nibble), z = (n_green − γn)/√(nγ(1−γ)),
    flag z > 4 (the paper's operating point, ~3e-5 false-positive rate).
    The corpus is human text, so the z-scores should sit in a unit
    normal band and NO document should trip the flag — this pins the
    detector's null behavior (its false-positive side), the half a data
    pipeline actually exercises when screening pretraining data for
    synthetic contamination; the alternative side is pure arithmetic on
    n_green. Provenance sibling of llmops_mojibake_detect (encoding
    damage) and llmops_code_detect (modality routing).

    Parity discipline: green membership is an exact md5-nibble rule,
    counts are BIGINT, and the z expression is identical e0-spelled
    double arithmetic with the n > 0 guard; the >4 decision compares the
    UNROUNDED z in both engines (a boundary-rounding flip is impossible
    at the fixture's |z| ≤ ~3).

    Spark-first: one in-row HOF fold riding the scan, zero shuffles —
    the hashed-features quality-classifier shape with a different
    per-token predicate."""
    d = t(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    green = F.expr(
        "cast(aggregate(transform(toks, x -> CASE WHEN "
        "substring(md5(concat('g:', lower(x))), 1, 1) IN "
        "('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END), 0, "
        "(acc, v) -> acc + v) as bigint)"
    )
    per = d.select(
        "doc_id",
        "source",
        F.size("toks").cast("bigint").alias("n_tokens"),
        green.alias("n_green"),
    )
    z = (F.col("n_green") - F.lit(0.5) * F.col("n_tokens")) / F.sqrt(
        F.col("n_tokens") * F.lit(0.25)
    )
    return per.select(
        "doc_id",
        "source",
        "n_tokens",
        "n_green",
        F.when(F.col("n_tokens") > 0, F.round(z, 6)).alias("z_score"),
        F.when(F.col("n_tokens") > 0, z > F.lit(4.0))
        .otherwise(F.lit(False))
        .alias("watermark_detected"),
    )


@query(
    "dq_effective_sample_size",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS sw,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS sw2
      FROM documents GROUP BY source
    )
    SELECT source, n,
           round(sw * 1.0e0 * sw / sw2, 6) AS ess,
           round((sw * 1.0e0 * sw / sw2) / n, 6) AS ess_ratio
    FROM s
    """,
)
def dq_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of each source under length weighting:
    ESS = (Σw)²/Σw² — how many EQUAL-weight documents the weighted set is
    statistically worth. The gate every importance-weighted pipeline
    (llmops_importance_resample's PPS picks, temperature mixing's
    upsampling) must watch: ess_ratio → 1 means weights are uniform,
    → 1/n means one heavy document carries the whole source and every
    downstream estimate rides its variance. Weights are n_chars (the
    resampler's weights), so this audits that query's actual operating
    regime.

    Parity discipline: Σw and Σw² are exact BIGINTs (n_chars ≤ ~600, so
    Σw² fits comfortably); the two emissions divide exact inputs with
    e0-spelled doubles. Σw² > 0 whenever the source has a document (the
    fixture has no empty texts; an all-empty source would need the
    derived-divisor guard — noted, not needed).

    Spark-first: one map-side partial aggregation; the statistic runs on
    |sources| rows."""
    d = t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("sw"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("sw2"),
    )
    ess = F.col("sw") * F.lit(1.0) * F.col("sw") / F.col("sw2")
    return s.select(
        "source",
        "n",
        F.round(ess, 6).alias("ess"),
        F.round(ess / F.col("n"), 6).alias("ess_ratio"),
    )


@query(
    "dq_arrival_gap_audit",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap_s
      FROM events
    )
    SELECT event_type,
           CAST(count(gap_s) AS BIGINT) AS n_gaps,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s,
           round(sum(gap_s) * 1.0e0 / count(gap_s), 6) AS mean_gap_s,
           CAST(count(*) FILTER (WHERE gap_s > 3600) AS BIGINT) AS n_gaps_gt_1h,
           round(count(*) FILTER (WHERE gap_s > 3600) * 1.0e0
                 / count(gap_s), 6) AS stall_rate
    FROM g GROUP BY event_type
    """,
)
def dq_arrival_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap audit per event type — the pipeline-liveness
    monitor that complements dq_freshness_sla's END-of-stream check: the
    freshness gate asks "is the newest data recent?", this asks "did the
    feed STALL anywhere in the window?" (a loader that silently dropped
    an hour mid-day passes every freshness check). Emits the max and
    mean inter-arrival gap plus the count/rate of gaps exceeding the 1 h
    stall threshold; at sf0.01 every type shows 120-128 stalls and max
    gaps of 2.5-2.9 h against a ~13 min mean gap — non-vacuous, and the
    threshold sits ~4.6 mean-gaps out (an exponential arrival model puts
    a gap that long at e^-4.6 ≈ 1%, matching the observed ~6% stall rate
    only because arrivals genuinely cluster — which is the point).

    Parity discipline: gaps are exact integer seconds (floor-epoch
    differences, the rate-limiter's spelling); mean and rate divide
    exact integer sums once.

    Spark-first: ONE shuffle on event_type orders each feed for the lag;
    the audit aggregate is map-side combinable on the same key — the
    sessionization exchange shape, per-feed instead of per-user."""
    ev = t(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp("ts")).cast("bigint")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select("event_type", (sec - F.lag(sec).over(w)).alias("gap_s"))
    return g.groupBy("event_type").agg(
        F.count("gap_s").cast("bigint").alias("n_gaps"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
        F.round(F.try_divide(F.sum("gap_s") * F.lit(1.0), F.count("gap_s")), 6).alias("mean_gap_s"),
        F.sum(F.when(F.col("gap_s") > 3600, 1).otherwise(0))
        .cast("bigint")
        .alias("n_gaps_gt_1h"),
        F.round(
            F.try_divide(
                F.sum(F.when(F.col("gap_s") > 3600, 1).otherwise(0)) * F.lit(1.0),
                F.count("gap_s"),
            ),
            6,
        ).alias("stall_rate"),
    )


@query(
    "events_did_estimator",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(user_id % 2 AS INT) AS treat,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(round(value, 2) AS DECIMAL(12,2)) AS v
      FROM events
    ), cut AS (
      SELECT CAST(floor((min(day) + max(day) + 1) / 2) AS BIGINT) AS mid FROM ev
    ), cells AS (
      SELECT event_type, treat,
             CASE WHEN day >= cut.mid THEN 1 ELSE 0 END AS post,
             CAST(count(*) AS BIGINT) AS n,
             sum(v) AS s,
             sum(v * v) AS q
      FROM ev CROSS JOIN cut
      GROUP BY 1, 2, 3
    ), m AS (
      SELECT event_type, treat, post, n,
             CAST(s AS DOUBLE) / n AS mean_v,
             (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
               / (n - 1) / n AS var_of_mean
      FROM cells
    ), wide AS (
      SELECT event_type,
             max(CASE WHEN treat = 1 AND post = 1 THEN mean_v END) AS m11,
             max(CASE WHEN treat = 1 AND post = 0 THEN mean_v END) AS m10,
             max(CASE WHEN treat = 0 AND post = 1 THEN mean_v END) AS m01,
             max(CASE WHEN treat = 0 AND post = 0 THEN mean_v END) AS m00,
             max(CASE WHEN treat = 1 AND post = 1 THEN var_of_mean END) AS v11,
             max(CASE WHEN treat = 1 AND post = 0 THEN var_of_mean END) AS v10,
             max(CASE WHEN treat = 0 AND post = 1 THEN var_of_mean END) AS v01,
             max(CASE WHEN treat = 0 AND post = 0 THEN var_of_mean END) AS v00,
             CAST(sum(n) AS BIGINT) AS n_total,
             CAST(min(n) AS BIGINT) AS n_min_cell
      FROM m GROUP BY event_type
    )
    SELECT event_type, n_total, n_min_cell,
           round((m11 - m10) - (m01 - m00), 6) AS did,
           round(sqrt(v11 + v10 + v01 + v00), 6) AS se,
           round(((m11 - m10) - (m01 - m00)) / sqrt(v11 + v10 + v01 + v00), 6)
             AS t_stat
    FROM wide
    """,
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the workhorse quasi-experimental
    estimator (Card & Krueger form) for rollouts that can't be
    randomized: treatment = the even user-id cohort, the pre/post cut is
    the DATA-DERIVED midpoint day (min+max+1)/2 — never a fixture
    constant, so the contrast binds at every SF — and per event type the
    effect is the classic double difference (treated post−pre) − (control
    post−pre), with its standard error from the four cells' variances of
    the mean and the resulting t statistic. events_ab_uplift is the
    randomized-experiment sibling; DiD is what remains valid when
    assignment correlates with level (it differences the cohort gap out).

    Parity: cell sums accumulate in DECIMAL(12,2)/its exact square (one
    round-2 of the raw double first — the welch-battery discipline for
    double-valued measures), every mean/variance is one double division
    of exact operands, and t/se round only at emission. Scale: ONE hash
    aggregation over (type, cohort, era) — 20 cells — then a 20-row
    pivot; the midpoint scalar is a 2-value aggregate broadcast by AQE.
    Nothing here exceeds a single pass at any corpus size."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("treat"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
        F.round("value", 2).cast("decimal(12,2)").alias("v"),
    )
    midpoint = ev.agg(
        F.floor((F.min("day") + F.max("day") + 1) / 2).cast("bigint").alias("mid")
    )
    cells = (
        ev.crossJoin(midpoint)
        .groupBy(
            "event_type",
            "treat",
            F.when(F.col("day") >= F.col("mid"), 1).otherwise(0).alias("post"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("q"),
        )
    )
    m = cells.select(
        "event_type",
        "treat",
        "post",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mean_v"),
        # try_divide: a single-row (cohort, era) cell zeroes n-1 on the
        # pathological gate; real cells hold hundreds of rows at every SF
        F.try_divide(
            F.try_divide(
                F.col("q").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n"),
                F.col("n") - 1,
            ),
            F.col("n"),
        ).alias("var_of_mean"),
    )

    def cell(col: str, tr: int, po: int):
        return F.max(
            F.when((F.col("treat") == tr) & (F.col("post") == po), F.col(col))
        )

    wide = m.groupBy("event_type").agg(
        cell("mean_v", 1, 1).alias("m11"),
        cell("mean_v", 1, 0).alias("m10"),
        cell("mean_v", 0, 1).alias("m01"),
        cell("mean_v", 0, 0).alias("m00"),
        cell("var_of_mean", 1, 1).alias("v11"),
        cell("var_of_mean", 1, 0).alias("v10"),
        cell("var_of_mean", 0, 1).alias("v01"),
        cell("var_of_mean", 0, 0).alias("v00"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.min("n").cast("bigint").alias("n_min_cell"),
    )
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    se = F.sqrt(F.col("v11") + F.col("v10") + F.col("v01") + F.col("v00"))
    return wide.select(
        "event_type",
        "n_total",
        "n_min_cell",
        F.round(did, 6).alias("did"),
        F.round(se, 6).alias("se"),
        # try_divide: se == 0.0 exactly when all four cells have zero
        # variance (an all-constant degenerate slice) — NULL t, matching
        # DuckDB's x/0 -> NULL; values unchanged at every fixture SF
        F.round(F.try_divide(did, se), 6).alias("t_stat"),
    )


@query(
    "dq_fdr_bh_gate",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(floor(CAST(strftime(ts, '%H') AS BIGINT) / 6) AS INT) AS hb,
             CAST(round(value, 2) AS DECIMAL(12,2)) AS v
      FROM events
    ), cell AS (
      SELECT event_type, hb,
             CAST(count(*) AS BIGINT) AS n, sum(v) AS s, sum(v * v) AS q
      FROM ev GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, sum(s) AS st, sum(q) AS qt,
             CAST(count(*) AS BIGINT) AS m
      FROM cell
    ), z AS (
      SELECT c.event_type, c.hb, c.n, t.m,
             (CAST(c.s AS DOUBLE) / c.n - CAST(t.st AS DOUBLE) / t.nt)
             / sqrt(((CAST(t.qt AS DOUBLE)
                      - CAST(t.st AS DOUBLE) * CAST(t.st AS DOUBLE) / t.nt)
                     / (t.nt - 1)) / c.n) AS zstat
      FROM cell c CROSS JOIN tot t
    ), p AS (
      SELECT event_type, hb, n, m, zstat,
             2.0 / (1.0 + exp(1.702 * abs(zstat))) AS pval
      FROM z
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY pval, event_type, hb) AS rk
      FROM p
    ), kstar AS (
      SELECT coalesce(max(CASE WHEN pval <= rk * 0.10 / m THEN rk END), 0) AS k
      FROM ranked
    )
    SELECT r.event_type, r.hb, r.n,
           round(r.zstat, 6) AS zstat,
           round(r.pval, 6) AS pval,
           CAST(r.rk AS BIGINT) AS rk,
           round(r.rk * 0.10 / r.m, 6) AS bh_cutoff,
           r.rk <= k.k AS discovery
    FROM ranked r CROSS JOIN kstar k
    """,
)
def dq_fdr_bh_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG false-discovery-rate gating over the drift-test
    grid — the multiple-testing control the dq battery (welch, KS,
    Mann-Whitney, χ², PSI) needs before anyone pages on it: testing 20
    (event type × hour-of-day band) cells for mean drift at α = 0.10
    fires ~2 false alarms per sweep under the null; BH instead finds
    k* = max{k : p(k) ≤ k·α/m} and flags exactly the k* smallest
    p-values, bounding the EXPECTED false-discovery fraction at α. Each
    cell's z compares its mean to the global mean under the pooled
    variance; p uses the LOGISTIC approximation of the normal tail
    (2/(1+e^{1.702|z|}) — monotone in |z|, so the BH ORDER is exactly
    the normal-tail order and the gate's decisions match; documented
    bias < 0.01 in p, and engine-identical since it is one exp() of the
    same double).

    Scale: one hash aggregation to the 20-cell grid, one 2-row scalar
    aggregate, and the BH sweep — rank + running max — runs on m = 20
    rows under the acknowledged-bounded single-partition idiom
    (bounded_window_key: the grid is |event types| × 4, fixed by schema,
    never by corpus size). Parity: decimal cell sums, one double
    division per moment, round-6 at emission; the rank carries
    (event_type, hb) tie-breaks."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.hour("ts") / 6).cast("int").alias("hb"),
        F.round("value", 2).cast("decimal(12,2)").alias("v"),
    )
    cell = ev.groupBy("event_type", "hb").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
    )
    tot = cell.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        F.count("*").cast("bigint").alias("m"),
    )
    zed = cell.crossJoin(tot).select(
        "event_type",
        "hb",
        "n",
        "m",
        # try_divide twice: nt == 1 zeroes the pooled-variance df, and an
        # all-constant value column zeroes the pooled variance itself
        # (sqrt -> 0) — both degenerate slices yield NULL z, matching
        # DuckDB's x/0 -> NULL; values unchanged at every fixture SF
        F.try_divide(
            F.col("s").cast("double") / F.col("n") - F.col("st").cast("double") / F.col("nt"),
            F.sqrt(
                F.try_divide(
                    F.col("qt").cast("double")
                    - F.col("st").cast("double") * F.col("st").cast("double") / F.col("nt"),
                    F.col("nt") - 1,
                )
                / F.col("n")
            ),
        ).alias("zstat"),
    )
    p = zed.withColumn(
        "pval", F.lit(2.0) / (F.lit(1.0) + F.exp(1.702 * F.abs(F.col("zstat"))))
    )
    wb = W.partitionBy(bounded_window_key(F.col("n"))).orderBy(
        "pval", "event_type", "hb"
    )
    ranked = p.withColumn("rk", F.row_number().over(wb))
    sat = F.when(F.col("pval") <= F.col("rk") * 0.10 / F.col("m"), F.col("rk"))
    kstar = ranked.agg(F.coalesce(F.max(sat), F.lit(0)).alias("k"))
    return ranked.crossJoin(kstar).select(
        "event_type",
        "hb",
        "n",
        F.round("zstat", 6).alias("zstat"),
        F.round("pval", 6).alias("pval"),
        F.col("rk").cast("bigint").alias("rk"),
        F.round(F.col("rk") * 0.10 / F.col("m"), 6).alias("bh_cutoff"),
        (F.col("rk") <= F.col("k")).alias("discovery"),
    )


@query(
    "dq_cusum_changepoint",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(round(value, 2) AS DECIMAL(12,2)) AS v
      FROM events
    ), daily AS (
      SELECT event_type, day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS DOUBLE) / count(*) AS dm
      FROM ev GROUP BY 1, 2
    ), mom AS (
      SELECT event_type,
             CAST(sum(CAST(round(dm, 6) AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS m,
             sqrt((CAST(sum(CAST(round(dm, 6) AS DECIMAL(18,6))
                            * CAST(round(dm, 6) AS DECIMAL(18,6))) AS DOUBLE)
                   - CAST(sum(CAST(round(dm, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     * CAST(sum(CAST(round(dm, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*))
                  / nullif(count(*) - 1, 0)) AS sd
      FROM daily GROUP BY event_type
    ), z AS (
      SELECT d.event_type, d.day, d.n,
             (d.dm - mom.m) / nullif(mom.sd, 0) AS zt,
             CAST(round((d.dm - mom.m) / nullif(mom.sd, 0) - 0.5, 6)
                  AS DECIMAL(18,6)) AS x6
      FROM daily d JOIN mom USING (event_type)
    ), cs AS (
      SELECT event_type, day, n, zt,
             sum(x6) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c
      FROM z
    ), pre AS (
      SELECT event_type, day, n, zt, c,
             min(c) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS runmin
      FROM cs
    )
    SELECT event_type, day, n,
           round(zt, 6) AS z,
           CAST(round(c - least(runmin, 0), 6) AS DOUBLE) AS cusum,
           (c - least(runmin, 0)) > 4.0 AS alarm
    FROM pre
    """,
)
def dq_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGE-POINT detection (Page 1954) over the daily
    per-event-type mean — the sequential drift monitor that fires on
    small SUSTAINED shifts the per-day z-test battery (welch/KS) misses:
    each day's standardized deviation contributes z_t − k (drift
    allowance k = 0.5 sd), and the one-sided CUSUM S_t = max(0,
    S_{t−1} + z_t − k) alarms when it exceeds h = 4 — the standard
    (k, h) = (0.5, 4) tuning (~1 false alarm per 370 in-control days).

    The recursion is rewritten window-shaped via the classical identity
    S_t = C_t − min(0, min_{j≤t} C_j) with C the prefix sum of
    (z_t − k): a running sum plus a running min over the SAME ordered
    frame — no recursive CTE, no fold, both engines evaluate it as two
    window passes. Parity: daily means are exact-decimal sums divided
    once; per-type moments use the round-6 decimal discipline; each
    increment rounds to 6 into DECIMAL so the prefix sums are exact
    integer-like arithmetic (no float summation-order drift anywhere);
    an all-constant type (sd = 0) yields NULL z/cusum identically via
    x/0 -> NULL. Scale: one hash aggregation to the bounded
    |types| × |days| grid; windows partition by event_type — at 100 TB
    the grid is still |types| × |days| rows, independent of corpus
    size (the stats_queries post-aggregation contract).

    The fixture corpus is IN-CONTROL by construction (no alarm row is
    true at any SF — the hash attests the whole S_t trajectory, not
    just the verdict bits); that the alarm actually fires on a
    sustained shift is pinned on an injected-step series in
    tests/test_r12_invariants.py::test_cusum_alarms_on_injected_shift,
    which drives the same :func:`_cusum_frame` core."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
        F.round("value", 2).cast("decimal(12,2)").alias("v"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("v").cast("double") / F.count("*")).alias("dm"),
    )
    return _cusum_frame(daily)


def _cusum_frame(daily: DataFrame) -> DataFrame:
    """CUSUM core over a (event_type, day, n, dm) daily-mean frame —
    shared by dq_cusum_changepoint and the injected-shift alarm test."""
    dm6 = F.round(F.col("dm"), 6).cast("decimal(18,6)")
    mom = daily.groupBy("event_type").agg(
        (F.sum(dm6).cast("double") / F.count("*")).alias("m"),
        F.sqrt(
            F.try_divide(
                F.sum(dm6 * dm6).cast("double")
                - F.sum(dm6).cast("double") * F.sum(dm6).cast("double") / F.count("*"),
                F.count("*") - 1,
            )
        ).alias("sd"),
    )
    zt = F.try_divide(F.col("dm") - F.col("m"), F.col("sd"))
    z = daily.join(mom, "event_type").select(
        "event_type",
        "day",
        "n",
        zt.alias("zt"),
        F.round(zt - 0.5, 6).cast("decimal(18,6)").alias("x6"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cs = z.select(
        "event_type", "day", "n", "zt", F.sum("x6").over(w).alias("c")
    )
    pre = cs.select(
        "event_type", "day", "n", "zt", "c", F.min("c").over(w).alias("runmin")
    )
    s = F.col("c") - F.least(F.col("runmin"), F.lit(0).cast("decimal(18,6)"))
    return pre.select(
        "event_type",
        "day",
        "n",
        F.round("zt", 6).alias("z"),
        F.round(s, 6).cast("double").alias("cusum"),
        (s > 4.0).alias("alarm"),
    )


@query(
    "dq_dp_noisy_release",
    oracle="""
    WITH cnt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1
    ), seed AS (
      SELECT event_type, c,
             substr(md5('dp-v1:' || event_type), 1, 6) AS h
      FROM cnt
    ), uni AS (
      SELECT event_type, c,
             ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576.0
              + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536.0
              + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096.0
              + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 256.0
              + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16.0
              + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 1.0
              + 0.5) / 16777216.0 AS u
      FROM seed
    ), noise AS (
      SELECT event_type, c,
             round(CASE WHEN u >= 0.5 THEN -ln(1.0 - 2.0 * (u - 0.5))
                        ELSE ln(1.0 - 2.0 * (0.5 - u)) END, 6) AS nz
      FROM uni
    )
    SELECT event_type,
           1.0 AS epsilon,
           round(c + nz, 6) AS noisy_count,
           abs(nz) <= 6.907755 AS within_utility_bound
    FROM noise
    """,
)
def dq_dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENTIALLY-PRIVATE noisy-count release (Dwork et al. 2006
    Laplace mechanism) for the per-event-type histogram — the mechanism
    a pipeline uses to publish corpus statistics without exposing any
    single record: noisy = count + Laplace(b) with scale b = Δ/ε
    (event-level sensitivity Δ = 1, ε = 1 here), and the release is
    audited against the mechanism's own utility guarantee
    P(|noise| > b·ln(1/δ)) = δ (δ = 0.001 → bound 6.907755...). The
    true count is deliberately NOT an output column.

    Honesty note, stated plainly: the Laplace draw here is DERIVED FROM
    A PUBLIC DETERMINISTIC SEED (md5 of the group key, inverse-CDF
    transformed) so the release is cross-engine ATTESTABLE — that makes
    this a certification of the mechanism's CALIBRATION (scale, the
    inverse-CDF transform, the utility bound), not a private release;
    production swaps the seed for a secret hardware RNG and nothing
    else changes. Noise is quantized to 1e-6 at the draw (round-6),
    the standard float-DP mitigation direction (Mironov 2012's attack
    is on raw-double Laplace).

    Parity: the uniform is an exact 6-hex-digit integer (+0.5, so the
    CDF transform never sees 0 or 1) over 2^24 — Spark derives it via
    conv(hex,16,10), DuckDB via a strpos fold, same exact value; one
    ln() per GROUP on identical doubles, crushed to round-6; the
    emitted sum and the bound verdict are arithmetic on exact operands.
    Scale: one map-side-combinable count aggregation over the bounded
    key grid; noise attaches in-row post-aggregation."""
    cnt = t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    h = F.substring(F.md5(F.concat(F.lit("dp-v1:"), F.col("event_type"))), 1, 6)
    u = (F.conv(h, 16, 10).cast("bigint").cast("double") + 0.5) / 16777216.0
    nz = F.round(
        F.when(u >= 0.5, -F.log(1.0 - 2.0 * (u - 0.5))).otherwise(
            F.log(1.0 - 2.0 * (0.5 - u))
        ),
        6,
    )
    return cnt.select(
        "event_type",
        F.lit(1.0).alias("epsilon"),
        F.round(F.col("c") + nz, 6).alias("noisy_count"),
        (F.abs(nz) <= 6.907755).alias("within_utility_bound"),
    )


@query(
    "dq_dp_budget_accountant",
    oracle="""
    WITH ledger AS (
      SELECT * FROM (VALUES
        (1, 'n_events',          CAST(0.8 AS DECIMAL(6,3)),  1.0),
        (2, 'n_users',           CAST(0.6 AS DECIMAL(6,3)),  1.0),
        (3, 'sum_value_clipped', CAST(0.5 AS DECIMAL(6,3)), 10.0),
        (4, 'n_high_value',      CAST(0.7 AS DECIMAL(6,3)),  1.0),
        (5, 'n_even_users',      CAST(0.9 AS DECIMAL(6,3)),  1.0),
        (6, 'n_events_rerun',    CAST(0.5 AS DECIMAL(6,3)),  1.0)
      ) AS v(seq, release, eps, sens)
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_events,
             CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users,
             CAST(sum(CAST(least(greatest(value, 0.0), 10.0)
                           AS DECIMAL(18,6))) AS DOUBLE) AS sum_clipped,
             CAST(sum(CASE WHEN value > 5.0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n_high,
             CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS n_even
      FROM events
    ), acc AS (
      SELECT seq, release, eps, sens,
             sum(eps) OVER (ORDER BY seq) AS cum,
             sum(eps) OVER (ORDER BY seq) <= CAST(3.0 AS DECIMAL(6,3))
               AS granted
      FROM ledger
    ), m AS (
      SELECT a.*,
             CASE a.release
               WHEN 'n_events' THEN s.n_events
               WHEN 'n_users' THEN s.n_users
               WHEN 'sum_value_clipped' THEN s.sum_clipped
               WHEN 'n_high_value' THEN s.n_high
               WHEN 'n_even_users' THEN s.n_even
               WHEN 'n_events_rerun' THEN s.n_events
             END AS measure,
             substr(md5('dp-v2:' || a.release), 1, 6) AS h
      FROM acc a CROSS JOIN stats s
    ), noise AS (
      SELECT m.*,
             round(CASE WHEN u >= 0.5 THEN -ln(1.0 - 2.0 * (u - 0.5))
                        ELSE ln(1.0 - 2.0 * (0.5 - u)) END, 6) AS lap
      FROM (
        SELECT *,
               ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576.0
                + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536.0
                + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096.0
                + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 256.0
                + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16.0
                + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 1.0
                + 0.5) / 16777216.0 AS u
        FROM m) m
    )
    SELECT CAST(seq AS BIGINT) AS seq, release,
           CAST(eps AS DOUBLE) AS epsilon,
           sens AS sensitivity,
           CAST(cum AS DOUBLE) AS cum_epsilon,
           granted,
           CASE WHEN granted
                THEN round(measure + (sens / CAST(eps AS DOUBLE)) * lap, 6)
           END AS noisy_value,
           CASE WHEN granted THEN abs(lap) <= 6.907755 END
             AS within_utility_bound
    FROM noise
    """,
)
def dq_dp_budget_accountant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP BUDGET ACCOUNTANT under basic (sequential) composition — the
    operational ledger that makes dq_dp_noisy_release deployable
    (verdict-r12 item #7): a fixed request ledger (k = 6 releases, each
    a different statistic with its own ε and sensitivity), cumulative
    ε by basic composition (ε_total = Σ ε_i, Dwork-Roth Thm 3.16), and
    a HARD-STOP cap at ε = 3.0 — the first request that would exceed
    the cap is refused AND freezes the ledger (requests 5 and 6 are
    refused: cum 3.5, 4.0; a skip-and-continue accountant would refuse
    both too, but hard-stop is the deliberately conservative choice —
    continuing to answer adaptively chosen cheaper queries after a
    refusal leaks through the refusal pattern itself). A refused
    release emits NULL noisy_value — the true statistic never leaves.

    Per-release noise is the dq_dp_noisy_release mechanism with
    per-release scale b = Δ_i/ε_i (counts Δ = 1; the value sum is
    CLIPPED to [0, 10] first, the standard bounded-contribution move,
    so Δ = 10); same public-seed honesty note as there — this
    certifies the accountant's arithmetic (composition, cap, refusal,
    scale), not a private release.

    Parity: ε is DECIMAL(6,3) so the running ε sum and the cap
    comparison are exact in both engines; measures are exact counts /
    one decimal-exact clipped sum; the Laplace draw is the established
    exact-hex-uniform recipe, quantized round-6 before scaling; b is
    one double division of identical operands. Scale: ONE aggregation
    pass over events computes every requested statistic (the ledger
    never re-scans), the 6-row ledger is a literal in-plan frame
    (explode of a struct array — no RDD leaf), and the running sum
    rides the bounded_window_key idiom (the window's input is the
    6-row literal ledger, bounded at authoring time)."""
    reqs = [
        (1, "n_events", "0.8", 1.0),
        (2, "n_users", "0.6", 1.0),
        (3, "sum_value_clipped", "0.5", 10.0),
        (4, "n_high_value", "0.7", 1.0),
        (5, "n_even_users", "0.9", 1.0),
        (6, "n_events_rerun", "0.5", 1.0),
    ]
    ledger = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(seq).cast("bigint").alias("seq"),
                            F.lit(name).alias("release"),
                            F.lit(eps).cast("decimal(6,3)").alias("eps"),
                            F.lit(sens).alias("sens"),
                        )
                        for seq, name, eps, sens in reqs
                    ]
                )
            ).alias("r")
        )
        .select("r.*")
    )
    ev = t(spark, sf_dir, "events")
    stats = ev.agg(
        F.count("*").cast("double").alias("n_events"),
        F.countDistinct("user_id").cast("double").alias("n_users"),
        F.sum(
            F.least(F.greatest(F.col("value"), F.lit(0.0)), F.lit(10.0)).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("sum_clipped"),
        F.sum(F.when(F.col("value") > 5.0, 1).otherwise(0))
        .cast("double")
        .alias("n_high"),
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("double")
        .alias("n_even"),
    )
    wseq = W.partitionBy(bounded_window_key(F.col("seq"))).orderBy("seq")
    acc = ledger.select(
        "seq",
        "release",
        "eps",
        "sens",
        F.sum("eps").over(wseq).alias("cum"),
        (F.sum("eps").over(wseq) <= F.lit("3.0").cast("decimal(6,3)")).alias(
            "granted"
        ),
    )
    measure = (
        F.when(F.col("release") == "n_events", F.col("n_events"))
        .when(F.col("release") == "n_users", F.col("n_users"))
        .when(F.col("release") == "sum_value_clipped", F.col("sum_clipped"))
        .when(F.col("release") == "n_high_value", F.col("n_high"))
        .when(F.col("release") == "n_even_users", F.col("n_even"))
        .when(F.col("release") == "n_events_rerun", F.col("n_events"))
    )
    h = F.substring(F.md5(F.concat(F.lit("dp-v2:"), F.col("release"))), 1, 6)
    u = (F.conv(h, 16, 10).cast("bigint").cast("double") + 0.5) / 16777216.0
    lap = F.round(
        F.when(u >= 0.5, -F.log(1.0 - 2.0 * (u - 0.5))).otherwise(
            F.log(1.0 - 2.0 * (0.5 - u))
        ),
        6,
    )
    b = F.col("sens") / F.col("eps").cast("double")
    return (
        acc.crossJoin(F.broadcast(stats))
        .select(
            "seq",
            "release",
            "eps",
            "sens",
            "cum",
            "granted",
            measure.alias("measure"),
            lap.alias("lap"),
        )
        .select(
            "seq",
            "release",
            F.col("eps").cast("double").alias("epsilon"),
            F.col("sens").alias("sensitivity"),
            F.col("cum").cast("double").alias("cum_epsilon"),
            "granted",
            F.when(
                F.col("granted"), F.round(F.col("measure") + b * F.col("lap"), 6)
            ).alias("noisy_value"),
            F.when(F.col("granted"), F.abs(F.col("lap")) <= 6.907755).alias(
                "within_utility_bound"
            ),
        )
    )


# l-diversity threshold l=3 and its entropy form ln(3), spelled as the SAME
# double literal in the Spark plan and the DuckDB oracle (the _EWMA_W
# repr() discipline — both engines parse the identical double; no log()
# runs at comparison time).
_LDIV_L = 3
_LN3 = "1.0986122886681098"


@query(
    "dq_l_diversity",
    oracle=f"""
    WITH bands AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS band
      FROM customer
    ), per_band AS (
      SELECT c_nationkey, c_mktsegment, band,
             CAST(count(*) AS BIGINT) AS c
      FROM bands GROUP BY 1, 2, 3
    ), terms AS (
      SELECT c_nationkey, c_mktsegment, c,
             CAST(round(-(c * 1.0 / sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment))
                          * ln(c * 1.0 / sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment)), 6)
                  AS DECIMAL(18,6)) AS h_term
      FROM per_band
    ), per_group AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(count(*) AS BIGINT) AS l_distinct,
             CAST(sum(c) AS BIGINT) AS grp_n,
             CAST(sum(h_term) AS DOUBLE) AS entropy
      FROM terms GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(l_distinct) AS BIGINT) AS l_actual,
           CAST(sum(CASE WHEN l_distinct < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_groups,
           CAST(sum(CASE WHEN l_distinct < {_LDIV_L} THEN grp_n ELSE 0 END) AS BIGINT)
             AS exposed_rows,
           round(CAST(sum(CASE WHEN l_distinct < {_LDIV_L} THEN grp_n ELSE 0 END) AS DOUBLE)
                 / sum(grp_n), 6) AS exposed_share,
           round(min(entropy), 6) AS min_entropy,
           CAST(sum(CASE WHEN entropy < {_LN3} THEN 1 ELSE 0 END) AS BIGINT)
             AS entropy_violating_groups
    FROM per_group
    """,
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY audit (Machanavajjhala et al. 2007) — the release gate
    k-anonymity (dq_k_anonymity) is famously not sufficient for: a
    QI class can be large (k-anonymous) yet expose everyone in it when
    all members share one SENSITIVE value (the homogeneity attack).
    Over the same quasi-identifier pair (nation, market segment) with
    the banded account balance as the sensitive attribute
    (floor(acctbal/2000) — 6 bands), reports distinct-l (the smallest
    number of distinct sensitive values in any class, must be >= l=3),
    the violating classes/rows/share, and the ENTROPY form: min over
    classes of -sum p ln p, with classes below ln(3) counted — the
    stricter gate that also catches near-homogeneous skew a distinct
    count misses.

    Parity discipline: band counts are exact integers; each entropy
    term's p is a double division of exact ints (identical in both
    engines), ln() runs once per (class, band) row on an identical
    double, terms are quantized round-6 into DECIMAL and summed exactly
    (the llmops_ngram_lm_perplexity mechanism — accumulation order
    cannot drift), and the ln(3) threshold is the same double literal
    in both plans, so every verdict compares identical doubles.

    Spark-first: ONE grouped count at (QI, band) grain — the only
    shuffle touching the heavy table — then the class roll-up and the
    final one-row audit run on the <= |QI classes| x |bands| grid
    (<= 750 rows at ANY scale factor: cardinality-bounded, the
    dq_k_anonymity discipline). The entropy window partitions by the
    QI class on the tiny grid, never the raw table."""
    c = t(spark, sf_dir, "customer")
    per_band = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000.0).cast("bigint").alias("band"),
    ).groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count("*").cast("bigint").alias("c")
    )
    wg = W.partitionBy("c_nationkey", "c_mktsegment")
    p = F.col("c") * F.lit(1.0) / F.sum("c").over(wg)
    term = F.round(-p * F.log(p), 6).cast("decimal(18,6)")
    per_group = per_band.select(
        "c_nationkey", "c_mktsegment", "c", term.alias("h_term")
    ).groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("l_distinct"),
        F.sum("c").cast("bigint").alias("grp_n"),
        F.sum("h_term").cast("double").alias("entropy"),
    )
    small = F.col("l_distinct") < _LDIV_L
    return per_group.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.min("l_distinct").cast("bigint").alias("l_actual"),
        F.sum(F.when(small, 1).otherwise(0)).cast("bigint").alias("violating_groups"),
        F.sum(F.when(small, F.col("grp_n")).otherwise(0))
        .cast("bigint")
        .alias("exposed_rows"),
        F.round(
            F.sum(F.when(small, F.col("grp_n")).otherwise(0)).cast("double")
            / F.sum("grp_n"),
            6,
        ).alias("exposed_share"),
        F.round(F.min("entropy"), 6).alias("min_entropy"),
        F.sum(F.when(F.col("entropy") < float(_LN3), 1).otherwise(0))
        .cast("bigint")
        .alias("entropy_violating_groups"),
    )


# Mann-Kendall two-sided critical value at alpha=0.05, the same double
# literal in both engines (scipy.stats.norm.ppf(0.975) to 6 decimals).
_MK_ZCRIT = "1.959964"


def _monthly_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trend builders' series: ``(prio, m, cents)``, exact BIGINT
    revenue cents per order priority and month index year·12+month — one
    shuffle over orders, then a grid of ≤ ~420 rows at any SF."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint").alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )


def _month_pairs(monthly: DataFrame) -> DataFrame:
    """Every ordered month pair of a priority's series as ``(prio, m1,
    c1, m2, c2)`` with m1 < m2: quadratic only in the month grid (80
    months → 3 160 pairs per priority at every SF), never in row count."""
    a = monthly.select("prio", F.col("m").alias("m1"), F.col("cents").alias("c1"))
    b = monthly.select("prio", F.col("m").alias("m2"), F.col("cents").alias("c2"))
    return a.join(b, "prio").filter(F.col("m1") < F.col("m2"))


@query(
    "dq_mann_kendall_trend",
    oracle=f"""
    WITH monthly AS (
      SELECT o_orderpriority AS prio,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ), s AS (
      SELECT a.prio,
             CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM monthly a JOIN monthly b ON a.prio = b.prio AND a.m < b.m
      GROUP BY a.prio
    ), nn AS (
      SELECT prio, CAST(count(*) AS BIGINT) AS n FROM monthly GROUP BY prio
    ), ties AS (
      SELECT prio, CAST(coalesce(sum(tt * (tt - 1) * (2 * tt + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT prio, cents, CAST(count(*) AS BIGINT) AS tt
            FROM monthly GROUP BY prio, cents) g
      WHERE tt > 1 GROUP BY prio
    ), z AS (
      SELECT s.prio, s.s_stat, nn.n,
             (nn.n * (nn.n - 1) * (2 * nn.n + 5) - coalesce(ties.tie_term, 0))
               / 18.0 AS var_s
      FROM s JOIN nn ON s.prio = nn.prio
      LEFT JOIN ties ON s.prio = ties.prio
    ), zz AS (
      SELECT prio, s_stat, n, var_s,
             CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                  WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                  ELSE 0.0 END AS z_val
      FROM z
    )
    SELECT prio, n AS n_months, s_stat, round(var_s, 6) AS var_s,
           round(z_val, 6) AS z_stat,
           CASE WHEN z_val > {_MK_ZCRIT} THEN 'increasing'
                WHEN z_val < -{_MK_ZCRIT} THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM zz
    """,
)
def dq_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL trend test per order priority — the nonparametric
    significance test that pairs with agg_theil_sen_slope's point
    estimate (Sen 1968 cites Mann 1945/Kendall's tau as the companion
    test; together they are the standard monotone-trend kit): S is the
    sum of pairwise sign(x_j - x_i) over the monthly-revenue series,
    Var(S) carries the tie correction sum t(t-1)(2t+5), and the
    continuity-corrected z = (S -/+ 1)/sqrt(Var) drives a two-sided
    verdict at alpha = 0.05. The same _month_pairs grid as Theil-Sen.

    Parity discipline: monthly cents are exact BIGINT so every pairwise
    sign, S, n, and the tie term are exact integers; Var(S) is one
    double division of an exact bigint by 18.0, sqrt is
    IEEE-correctly-rounded, and the z-critical value is the same double
    literal in both plans — the trend verdict compares identical
    doubles end to end.

    Spark-first: one shuffle for the monthly rollup (_monthly_cents,
    shared with Theil-Sen; a trend dashboard computes both off one cached
    grid); the pair join, tie count, and verdict all run on the tiny
    grid."""
    # The bounded (priority, month) frame (≤ ~420 rows) feeds BOTH
    # self-join sides, the per-priority count AND the tie aggregate —
    # the last two group differently, so ReuseExchange cannot dedupe
    # and the orders scan re-inlined 4× (r15). Cut once.
    monthly = cut(_monthly_cents(spark, sf_dir))
    s = (
        _month_pairs(monthly)
        .groupBy("prio")
        .agg(
            F.sum(
                F.when(F.col("c2") > F.col("c1"), 1)
                .when(F.col("c2") < F.col("c1"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nn = monthly.groupBy("prio").agg(F.count("*").cast("bigint").alias("n"))
    ties = (
        monthly.groupBy("prio", "cents")
        .agg(F.count("*").cast("bigint").alias("tt"))
        .filter(F.col("tt") > 1)
        .groupBy("prio")
        .agg(
            F.coalesce(
                F.sum(F.col("tt") * (F.col("tt") - 1) * (2 * F.col("tt") + 5)), F.lit(0)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0))
    ) / F.lit(18.0)
    z = (
        s.join(nn, "prio")
        .join(ties, "prio", "left")
        .select("prio", "s_stat", "n", var_s.alias("var_s"))
        .withColumn(
            "z_val",
            F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt("var_s"))
            .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt("var_s"))
            .otherwise(F.lit(0.0)),
        )
    )
    zc = float(_MK_ZCRIT)
    return z.select(
        "prio",
        F.col("n").alias("n_months"),
        "s_stat",
        F.round("var_s", 6).alias("var_s"),
        F.round("z_val", 6).alias("z_stat"),
        F.when(F.col("z_val") > zc, F.lit("increasing"))
        .when(F.col("z_val") < -zc, F.lit("decreasing"))
        .otherwise(F.lit("none"))
        .alias("trend"),
    )


# t-closeness threshold, the same double literal in both engines.
_TCLOSE_T = "0.2"


@query(
    "dq_t_closeness",
    oracle=f"""
    WITH bands AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS band
      FROM customer
    ), per_band AS (
      SELECT c_nationkey, c_mktsegment, band, CAST(count(*) AS BIGINT) AS c
      FROM bands GROUP BY 1, 2, 3
    ), gmarg AS (
      SELECT band, CAST(sum(c) AS BIGINT) AS g FROM per_band GROUP BY band
    ), tot AS (SELECT CAST(sum(g) AS BIGINT) AS n FROM gmarg),
    grp_n AS (
      SELECT c_nationkey, c_mktsegment, CAST(sum(c) AS BIGINT) AS gn
      FROM per_band GROUP BY 1, 2
    ), cells AS (
      SELECT grp_n.c_nationkey, grp_n.c_mktsegment, gmarg.band,
             grp_n.gn, gmarg.g, tot.n, coalesce(pb.c, 0) AS c
      FROM grp_n CROSS JOIN gmarg CROSS JOIN tot
      LEFT JOIN per_band pb
        ON pb.c_nationkey = grp_n.c_nationkey
       AND pb.c_mktsegment = grp_n.c_mktsegment
       AND pb.band = gmarg.band
    ), cum AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(round(sum(c * 1.0 / gn - g * 1.0 / n)
                          OVER (PARTITION BY c_nationkey, c_mktsegment
                                ORDER BY band
                                ROWS UNBOUNDED PRECEDING), 10)
                  AS DECIMAL(18,10)) AS cd,
             CAST(count(*) OVER (PARTITION BY c_nationkey, c_mktsegment)
                  AS BIGINT) AS m
      FROM cells
    ), emd AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(sum(abs(cd)) AS DOUBLE) / (max(m) - 1) AS t_val
      FROM cum GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           round(max(t_val), 6) AS t_actual,
           CAST(count(*) FILTER (WHERE t_val > {_TCLOSE_T}) AS BIGINT)
             AS violating_groups,
           round(CAST(sum(CAST(round(t_val, 6) AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS mean_t
    FROM emd
    """,
)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-CLOSENESS audit (Li, Li & Venkatasubramanian 2007) — the third
    rung of the privacy-release ladder after dq_k_anonymity and
    dq_l_diversity, and the one that catches what l-diversity cannot
    (the skewness attack: a class can hold l distinct sensitive values
    yet still leak when its DISTRIBUTION departs from the table's).
    Per QI class (nation, market segment), the distance between the
    class's banded-acctbal distribution and the global one is the Earth
    Mover's Distance for ordinal attributes with unit ground distance:
    EMD = sum over bands of |cumulative(p - q)| / (m - 1). Reports the
    worst class's t, classes beyond t = 0.2, and the round-6 mean.

    Parity discipline: every count is an exact integer; each cell's
    p - q is a difference of two double divisions of exact ints
    (identical operands in both engines); cumulative differences are
    quantized round-10 into DECIMAL inside a class-partitioned window
    ORDERED BY the band index (a total order — no accumulation
    ambiguity); the class roll-up divides an exact decimal sum by the
    exact band count.

    Spark-first: ONE grouped count at (QI, band) grain touches the
    heavy table; the global marginal, the QI x band dense grid (left
    join fills absent cells — absence IS probability mass at distance),
    the cumulative window, and the audit roll-up all run on the
    <= |classes| x |bands| grid (<= 750 rows at any SF)."""
    c = t(spark, sf_dir, "customer")
    per_band = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 2000.0).cast("bigint").alias("band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    glob = per_band.groupBy("band").agg(F.sum("c").cast("bigint").alias("g"))
    tot = glob.agg(F.sum("g").cast("bigint").alias("n"))
    grp_n = per_band.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("c").cast("bigint").alias("gn")
    )
    cells = (
        grp_n.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .join(per_band, ["c_nationkey", "c_mktsegment", "band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "band",
            "gn",
            "g",
            "n",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    wg = (
        W.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wp = W.partitionBy("c_nationkey", "c_mktsegment")
    diff = F.col("c") * F.lit(1.0) / F.col("gn") - F.col("g") * F.lit(1.0) / F.col("n")
    cum = cells.select(
        "c_nationkey",
        "c_mktsegment",
        F.round(F.sum(diff).over(wg), 10).cast("decimal(18,10)").alias("cd"),
        F.count("*").over(wp).cast("bigint").alias("m"),
    )
    emd = cum.groupBy("c_nationkey", "c_mktsegment").agg(
        (F.sum(F.abs(F.col("cd"))).cast("double") / (F.max("m") - 1)).alias("t_val")
    )
    thr = float(_TCLOSE_T)
    return emd.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.round(F.max("t_val"), 6).alias("t_actual"),
        F.sum(F.when(F.col("t_val") > thr, 1).otherwise(0))
        .cast("bigint")
        .alias("violating_groups"),
        F.round(
            F.sum(F.round(F.col("t_val"), 6).cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_t"),
    )


# Fisher randomization test: replicate count and the per-replicate
# assignment bit — hex digit k of ONE md5 per row, coin = digit <= 7.
_PERM_B = 32


def _perm_bit(h: str, k: int) -> str:
    """SQL: fair coin k in 1..32 from hex digit k of md5 expression ``h``
    (digit value <= 7 — exactly half of the 16 values; one md5 per row
    funds all 32 replicates)."""
    from batch_public_spark.plans.curation_queries import _hexv

    return f"({_hexv(f'substr({h}, {k}, 1)')} <= 7)"


def _perm_oracle() -> str:
    h = "md5(CAST(doc_id AS VARCHAR) || ':perm')"
    cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN {_perm_bit('h', k)} THEN x END) AS BIGINT) AS s{k},"
        f" CAST(count(*) FILTER (WHERE {_perm_bit('h', k)}) AS BIGINT) AS c{k}"
        for k in range(1, _PERM_B + 1)
    )
    gaps = ",\n             ".join(
        f"(s{k} * 1.0 / c{k}) - ((s - s{k}) * 1.0 / (n - c{k})) AS g{k}"
        for k in range(1, _PERM_B + 1)
    )
    extreme = " + ".join(
        f"(CASE WHEN abs(g{k}) >= abs(g_obs) THEN 1 ELSE 0 END)"
        for k in range(1, _PERM_B + 1)
    )
    return f"""
    WITH base AS (
      SELECT n_chars AS x, doc_id % 2 = 0 AS treat, {h} AS h
      FROM documents
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS nt,
             CAST(sum(CASE WHEN treat THEN x END) AS BIGINT) AS st,
             {cols}
      FROM base
    ), gg AS (
      SELECT n, nt,
             (st * 1.0 / nt) - ((s - st) * 1.0 / (n - nt)) AS g_obs,
             {gaps}
      FROM agg
    )
    SELECT n AS n_docs, nt AS n_treat,
           round(g_obs, 6) AS gap_obs,
           CAST({_PERM_B} AS BIGINT) AS n_replicates,
           CAST({extreme} AS BIGINT) AS n_extreme,
           round((1.0 + ({extreme})) / {_PERM_B + 1}.0, 6) AS p_value,
           (1.0 + ({extreme})) / {_PERM_B + 1}.0 <= 0.05 AS reject_null
    FROM gg
    """


# Delete-one-GROUP jackknife: z for the 95% CI (the log-rank literal).
_JK_Z = "1.959964"


@query(
    "events_jackknife_ratio",
    oracle=f"""
    WITH b AS (
      SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS s,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(s) AS BIGINT) AS st, CAST(sum(n) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS nb
      FROM b
    ), loo AS (
      SELECT CAST(round((tot.st - b.s) * 1.0 / (tot.nt - b.n), 10)
                  AS DECIMAL(18,10)) AS th
      FROM b CROSS JOIN tot
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(th) AS DOUBLE) / nullif(count(*), 0) AS thbar,
             sqrt((count(*) - 1.0) / nullif(count(*), 0)
                  * (CAST(sum(th * th) AS DOUBLE)
                     - CAST(sum(th) AS DOUBLE) * CAST(sum(th) AS DOUBLE)
                       / nullif(count(*), 0))) AS se
      FROM loo
    )
    SELECT tot.nt AS n_users, tot.st AS n_events, m.nb AS n_buckets,
           round(tot.st * 1.0 / tot.nt, 6) AS theta,
           round(m.thbar, 6) AS theta_jack_mean,
           round((m.nb - 1) * (m.thbar - tot.st * 1.0 / tot.nt), 6)
             AS bias_est,
           round(m.se, 6) AS se,
           round(tot.st * 1.0 / tot.nt - {_JK_Z} * m.se, 6) AS ci_lo,
           round(tot.st * 1.0 / tot.nt + {_JK_Z} * m.se, 6) AS ci_hi
    FROM tot CROSS JOIN m
    """,
)
def events_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-ONE-GROUP JACKKNIFE for a RATIO metric (Tukey 1958;
    the clustered "delete-a-bucket" form every large A/B platform uses
    for ratio metrics like events-per-user, where the delta-method
    needs a covariance nobody trusts and user-level resampling is the
    correct unit): theta = sum(events)/sum(users), pseudo-replicates
    theta_(i) drop user-bucket i (user_id % 10) and recompute from the
    COMPLEMENT totals — no second scan, the llmops_source_ablation
    arithmetic; jackknife bias estimate (B-1)(theta_bar - theta) and
    SE = sqrt((B-1)/B * sum(theta_(i)-theta_bar)^2), 95% CI at the
    shared z literal. Completes the resampling kit beside the
    hash-Poisson bootstrap (eval_poisson_bootstrap_ci — element-level,
    needs B replicate columns) with the grouped, closed-form
    alternative (B = bucket count, zero replicate columns).

    Parity discipline: bucket sums are exact BIGINTs (buckets PARTITION
    users, so distinct-user counts add); each theta_(i) is one double
    division of exact integers quantized round-10 decimal; the moment
    sums are exact decimal; sqrt/final divisions are identical IEEE ops
    on identical operands.

    Spark-first: ONE grouped aggregation over the scan (10 buckets,
    map-side combinable; COUNT DISTINCT users per bucket shuffles on
    the same key), a 1-row total broadcast onto the 10-row frame, a
    1-row moment aggregate. At 100 TB the bucket count, not the row
    count, prices everything after the first aggregation."""
    ev = t(spark, sf_dir, "events")
    b = ev.groupBy((F.col("user_id") % 10).cast("bigint").alias("bucket")).agg(
        F.count("*").cast("bigint").alias("s"),
        F.countDistinct("user_id").cast("bigint").alias("n"),
    )
    tot = b.agg(
        F.sum("s").cast("bigint").alias("st"),
        F.sum("n").cast("bigint").alias("nt"),
        F.count("*").cast("bigint").alias("nb"),
    )
    # DECIMAL(18,10), not (28,10): th*th must stay inside precision 38
    # ((37,20) exactly) or Spark's decimal-overflow scale reduction and
    # DuckDB's disagree in the low digits (caught at sf0.01: ci_lo off
    # by 1e-6 after the round).
    th = F.round(
        (F.col("st") - F.col("s")) * F.lit(1.0) / (F.col("nt") - F.col("n")), 10
    ).cast("decimal(18,10)")
    loo = b.crossJoin(F.broadcast(tot)).select(th.alias("th"))
    m = loo.agg(
        F.count("*").cast("bigint").alias("nb"),
        (F.sum("th").cast("double") / F.nullif(F.count("*"), F.lit(0))).alias(
            "thbar"
        ),
        F.sqrt(
            (F.count("*") - F.lit(1.0))
            / F.nullif(F.count("*"), F.lit(0))
            * (
                F.sum(F.col("th") * F.col("th")).cast("double")
                - F.sum("th").cast("double")
                * F.sum("th").cast("double")
                / F.nullif(F.count("*"), F.lit(0))
            )
        ).alias("se"),
    )
    z = float(_JK_Z)
    theta = F.col("st") * F.lit(1.0) / F.col("nt")
    mj = m.select(F.col("nb").alias("nbj"), "thbar", "se")
    return tot.select("st", "nt").crossJoin(F.broadcast(mj)).select(
        F.col("nt").alias("n_users"),
        F.col("st").alias("n_events"),
        F.col("nbj").alias("n_buckets"),
        F.round(theta, 6).alias("theta"),
        F.round("thbar", 6).alias("theta_jack_mean"),
        F.round((F.col("nbj") - 1) * (F.col("thbar") - theta), 6).alias("bias_est"),
        F.round("se", 6).alias("se"),
        F.round(theta - z * F.col("se"), 6).alias("ci_lo"),
        F.round(theta + z * F.col("se"), 6).alias("ci_hi"),
    )


# Wald SPRT constants: H0 p=0.15 vs H1 p=0.20 on the purchase share,
# alpha = beta = 0.05. The per-observation log-likelihood-ratio factors
# and the decision boundary ln((1-beta)/alpha) = ln 19 are materialized
# in Python and spelled as IDENTICAL double literals in both engines
# (the EWMA-weights discipline — never ln() a constant at query time).
_SPRT_L1 = "0.287682072451781"  # ln(0.20/0.15), per success
_SPRT_L0 = "-0.060624621816434736"  # ln(0.80/0.85), per failure
_SPRT_A = "2.9444389791664403"  # ln(19): accept H1 above, H0 below -A


@query(
    "events_sprt_monitor",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(count(*) AS BIGINT) AS trials,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS succ
      FROM events GROUP BY 1
    ), cum AS (
      SELECT d,
             CAST(sum(trials) OVER w AS BIGINT) AS trials_cum,
             CAST(sum(succ) OVER w AS BIGINT) AS succ_cum
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), scored AS (
      SELECT d, trials_cum, succ_cum,
             succ_cum * {_SPRT_L1}
               + (trials_cum - succ_cum) * {_SPRT_L0} AS llr
      FROM cum
    ), dec AS (
      SELECT d, trials_cum, succ_cum, llr,
             CASE WHEN llr >= {_SPRT_A} THEN 'accept_h1'
                  WHEN llr <= -{_SPRT_A} THEN 'accept_h0'
                  ELSE 'continue' END AS decision
      FROM scored
    ), cross_day AS (
      SELECT min(d) AS fd FROM dec WHERE decision <> 'continue'
    )
    SELECT strftime(dec.d, '%Y-%m-%d') AS day,
           dec.trials_cum, dec.succ_cum,
           round(dec.llr, 6) AS llr, dec.decision,
           strftime(cross_day.fd, '%Y-%m-%d') AS first_decision_day
    FROM dec CROSS JOIN cross_day
    """,
)
def events_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD SEQUENTIAL PROBABILITY RATIO TEST (Wald 1945) replayed over
    the event stream — the always-monitoring companion to the
    fixed-horizon tests (Welch, permutation, log-rank): every day the
    cumulative Bernoulli log-likelihood ratio for the purchase share
    under H1: p=0.20 vs H0: p=0.15 is
    LLR = S*ln(p1/p0) + (T-S)*ln((1-p1)/(1-p0)), and the test stops
    the first day LLR exits (-ln 19, +ln 19) (alpha = beta = 0.05) —
    the sequential design that lets an experimenter LOOK EVERY DAY
    with the error rates still controlled, which peeking at a
    fixed-horizon p-value forfeits. The fixture's true share (~0.202)
    sits above H1, so the replay drifts up and crosses the accept-H1
    boundary inside the 30-day window at every SF (non-vacuous);
    first_decision_day reports the stopping day, and rows after it
    show the counterfactual continuation (the offline-replay shape —
    a live monitor would stop).

    Parity discipline: daily trials/successes are exact integers; the
    LLR is exact-int x shared-double-literal products summed in one
    expression (identical IEEE operands — the ln factors are Python-
    materialized literals, never engine ln() of a constant); decisions
    compare against the same literal boundary.

    Spark-first: one daily aggregation over the scan, cumulative sums
    on the bounded day grid under bounded_window_key, a 1-row
    first-crossing aggregate broadcast back. The 100 TB form is
    identical with the day grid as the only stateful frame."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count("*").cast("bigint").alias("trials"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("succ"),
    )
    wd = (
        W.partitionBy(bounded_window_key(F.unix_timestamp("d").cast("bigint")))
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = daily.select(
        "d",
        F.sum("trials").over(wd).cast("bigint").alias("trials_cum"),
        F.sum("succ").over(wd).cast("bigint").alias("succ_cum"),
    )
    l1, l0, a = float(_SPRT_L1), float(_SPRT_L0), float(_SPRT_A)
    llr = F.col("succ_cum") * F.lit(l1) + (
        F.col("trials_cum") - F.col("succ_cum")
    ) * F.lit(l0)
    dec = cum.select(
        "d",
        "trials_cum",
        "succ_cum",
        llr.alias("llr"),
        F.when(llr >= a, F.lit("accept_h1"))
        .when(llr <= -a, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )
    cross = dec.filter(F.col("decision") != "continue").agg(
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("first_decision_day")
    )
    return dec.crossJoin(F.broadcast(cross)).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "trials_cum",
        "succ_cum",
        F.round("llr", 6).alias("llr"),
        "decision",
        "first_decision_day",
    )


@query(
    "cust_uplift_qini",
    oracle=f"""
    WITH resp AS (
      SELECT c.c_custkey,
             CAST(c.c_acctbal AS DOUBLE) AS score,
             {_perm_bit("md5(CAST(c.c_custkey AS VARCHAR) || ':uplift')", 1)}
               AS treat,
             CASE WHEN (SELECT count(*) FROM orders o
                        WHERE o.o_custkey = c.c_custkey) >= 12
                  THEN 1 ELSE 0 END AS y
      FROM customer c
    ), thr AS (
      SELECT quantile_cont(score, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q
      FROM resp
    ), dec AS (
      SELECT r.treat, r.y,
             1 + CAST((CASE WHEN r.score > thr.q[1] THEN 1 ELSE 0 END)
               + (CASE WHEN r.score > thr.q[2] THEN 1 ELSE 0 END)
               + (CASE WHEN r.score > thr.q[3] THEN 1 ELSE 0 END)
               + (CASE WHEN r.score > thr.q[4] THEN 1 ELSE 0 END)
               + (CASE WHEN r.score > thr.q[5] THEN 1 ELSE 0 END)
               + (CASE WHEN r.score > thr.q[6] THEN 1 ELSE 0 END)
               + (CASE WHEN r.score > thr.q[7] THEN 1 ELSE 0 END)
               + (CASE WHEN r.score > thr.q[8] THEN 1 ELSE 0 END)
               + (CASE WHEN r.score > thr.q[9] THEN 1 ELSE 0 END) AS BIGINT)
               AS decile
      FROM resp r CROSS JOIN thr
    ), per AS (
      SELECT decile,
             CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS nt,
             CAST(sum(y) FILTER (WHERE treat) AS BIGINT) AS rt,
             CAST(count(*) FILTER (WHERE NOT treat) AS BIGINT) AS nc,
             CAST(sum(y) FILTER (WHERE NOT treat) AS BIGINT) AS rc
      FROM dec GROUP BY 1
    ), cum AS (
      SELECT decile, nt, rt, nc, rc,
             CAST(sum(nt) OVER w AS BIGINT) AS nt_c,
             CAST(sum(rt) OVER w AS BIGINT) AS rt_c,
             CAST(sum(nc) OVER w AS BIGINT) AS nc_c,
             CAST(sum(rc) OVER w AS BIGINT) AS rc_c
      FROM per
      WINDOW w AS (ORDER BY decile DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), scored AS (
      SELECT decile, nt, rt, nc, rc,
             CAST(round(rt_c - rc_c * 1.0 * nt_c / nullif(nc_c, 0), 6)
                  AS DECIMAL(18,6)) AS qini
      FROM cum
    ), auuc AS (
      SELECT CAST(round(CAST(sum(qini) AS DOUBLE) / count(*), 6)
                  AS DOUBLE) AS auuc
      FROM scored
    )
    SELECT s.decile, s.nt, s.rt, s.nc, s.rc,
           CAST(s.qini AS DOUBLE) AS qini, a.auuc
    FROM scored s CROSS JOIN auuc a
    """,
)
def cust_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QINI / UPLIFT CURVE (Radcliffe 2007; the evaluation every uplift
    model ships with, and the missing member of the experimentation kit
    beside CUPED/DiD/log-rank/SPRT — those measure AVERAGE effects,
    the Qini curve asks WHO to target): customers ranked by a score
    (c_acctbal — the deterministic stand-in for a model's predicted
    uplift, the ECE synthetic-confidence precedent), split into exact
    score deciles, treatment = a salted-hash coin, outcome = became a
    heavy repeat buyer (>= 12 orders; ~30% base rate — every fixture
    customer has SOME order, so existence would be constant-1); walking deciles best-first, Qini(k) =
    Rt_cum - Rc_cum * Nt_cum/Nc_cum (incremental responders vs the
    control scaled to the treated volume) and AUUC is the mean of the
    per-decile Qini values. Under the fixture's null coin the curve
    wiggles around zero — the calibration-of-the-harness reading; a
    real score/treatment pair drops in without a plan change.

    Parity discipline: decile thresholds are exact interpolated
    percentiles (Spark `percentile` == DuckDB `quantile_cont`, the
    agg_approx_percentile_accuracy precedent); scores are money
    DECIMALs, so a score can only EQUAL a threshold when the
    interpolation fraction is zero and both engines emit the exact
    lower value — strict `>` comparisons cannot straddle an ulp.
    Counts are exact BIGINTs; each Qini is one double expression
    quantized round-6 decimal; AUUC is an exact decimal sum divided
    once.

    Spark-first: one grouped order count joined on the customer key
    (the oracle's correlated COUNT subquery is clarity form), one percentile aggregate broadcast to assign deciles
    in-row, one 10-key grouped count, cumulative sums on the 10-row
    frame under bounded_window_key. At 100 TB swap `percentile` for
    approx_percentile and nothing else moves (stated trade per the
    conformal/approx precedent)."""
    c = t(spark, sf_dir, "customer")
    oc = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").alias("n_orders"))
    )
    treat = _perm_bit("md5(concat(cast(c_custkey as string), ':uplift'))", 1)
    resp = c.join(oc, "c_custkey", "left").select(
        F.col("c_acctbal").cast("double").alias("score"),
        F.expr(treat).alias("treat"),
        (F.coalesce(F.col("n_orders"), F.lit(0)) >= 12).cast("int").alias("y"),
    )
    thr = resp.agg(
        F.expr(
            "percentile(score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("q")
    )
    dec_col = F.lit(1)
    for i in range(1, 10):
        dec_col = dec_col + F.when(F.col("score") > F.expr(f"q[{i - 1}]"), 1).otherwise(0)
    dec = resp.crossJoin(F.broadcast(thr)).select(
        "treat", "y", dec_col.cast("bigint").alias("decile")
    )
    per = dec.groupBy("decile").agg(
        F.sum(F.when(F.col("treat"), 1).otherwise(0)).cast("bigint").alias("nt"),
        F.sum(F.when(F.col("treat"), F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("rt"),
        F.sum(F.when(~F.col("treat"), 1).otherwise(0)).cast("bigint").alias("nc"),
        F.sum(F.when(~F.col("treat"), F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("rc"),
    )
    wq = (
        W.partitionBy(bounded_window_key(F.col("decile")))
        .orderBy(F.desc("decile"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = per.select(
        "decile",
        "nt",
        "rt",
        "nc",
        "rc",
        F.sum("nt").over(wq).cast("bigint").alias("nt_c"),
        F.sum("rt").over(wq).cast("bigint").alias("rt_c"),
        F.sum("nc").over(wq).cast("bigint").alias("nc_c"),
        F.sum("rc").over(wq).cast("bigint").alias("rc_c"),
    )
    qini = F.round(
        F.col("rt_c")
        - F.col("rc_c") * F.lit(1.0) * F.col("nt_c") / F.nullif(F.col("nc_c"), F.lit(0)),
        6,
    ).cast("decimal(18,6)")
    scored = cum.select("decile", "nt", "rt", "nc", "rc", qini.alias("qini"))
    auuc = scored.agg(
        F.round(F.sum("qini").cast("double") / F.count("*"), 6).alias("auuc")
    )
    return scored.crossJoin(F.broadcast(auuc)).select(
        "decile",
        "nt",
        "rt",
        "nc",
        "rc",
        F.col("qini").cast("double").alias("qini"),
        "auuc",
    )


@query(
    "events_overdispersion",
    oracle=f"""
    WITH cells AS (
      SELECT user_id, date_trunc('day', ts) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(c * c) AS BIGINT) AS ss
      FROM cells
    )
    SELECT n AS n_cells, s AS n_events,
           round(s * 1.0 / n, 6) AS mean_count,
           round((ss - s * 1.0 * s / n) / nullif(n - 1, 0), 6) AS var_count,
           round(((ss - s * 1.0 * s / n) / nullif(n - 1, 0))
                 / nullif(s * 1.0 / n, 0), 6) AS dispersion,
           round((((ss - s * 1.0 * s / n) / nullif(n - 1, 0))
                  / nullif(s * 1.0 / n, 0) - 1.0)
                 * sqrt((n - 1) / 2.0), 6) AS z_stat,
           abs((((ss - s * 1.0 * s / n) / nullif(n - 1, 0))
                / nullif(s * 1.0 / n, 0) - 1.0)
               * sqrt((n - 1) / 2.0)) > {_JK_Z} AS overdispersed
    FROM m
    """,
)
def events_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OVERDISPERSION TEST for count data (the dispersion-index /
    quasi-Poisson check, Fisher 1950 form): are per-(user, day) event
    counts Poisson (variance == mean) or clumped (variance > mean)?
    The question that decides whether rate comparisons may use Poisson
    errors or must inflate them — every capacity/alerting model built
    on event counts gets this wrong silently when bursts exist.
    D = s^2/mean over observed user-day cells; under the Poisson null
    (n-1)D ~ chi-square(n-1), so z = (D-1)*sqrt((n-1)/2) is the normal
    approximation and |z| > 1.959964 flags overdispersion at 5%. Emits
    mean/variance/D/z and the verdict. (Observed cells only — the
    zero-inflated variant adds the empty grid; stated scope.)

    Parity: cell counts exact BIGINTs; mean/var/D/z are chains of
    double divisions on exact-integer operands with identical
    parenthesization; the flag compares against the shared z literal.
    Scale: one grouped count + one 1-row moment aggregate, both
    map-side combinable; nothing else."""
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    m = cells.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ss"),
    )
    mean = F.col("s") * F.lit(1.0) / F.col("n")
    var = (F.col("ss") - F.col("s") * F.lit(1.0) * F.col("s") / F.col("n")) / F.nullif(
        F.col("n") - 1, F.lit(0)
    )
    disp = var / F.nullif(mean, F.lit(0.0))
    z = (disp - F.lit(1.0)) * F.sqrt((F.col("n") - 1) / F.lit(2.0))
    zc = float(_JK_Z)
    return m.select(
        F.col("n").alias("n_cells"),
        F.col("s").alias("n_events"),
        F.round(mean, 6).alias("mean_count"),
        F.round(var, 6).alias("var_count"),
        F.round(disp, 6).alias("dispersion"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > zc).alias("overdispersed"),
    )


# BH step-up FDR level; spelled as the same literal in both engines.
_BH_ALPHA = "0.10"


def _bh_fdr_oracle() -> str:
    h = "md5(CAST(doc_id AS VARCHAR) || ':perm')"
    treat = _perm_bit("md5(CAST(doc_id AS VARCHAR) || ':assign')", 1)
    cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN {_perm_bit('h', k)} THEN x END) AS BIGINT) AS s{k},"
        f" CAST(count(*) FILTER (WHERE {_perm_bit('h', k)}) AS BIGINT) AS c{k}"
        for k in range(1, _PERM_B + 1)
    )
    gaps = ",\n             ".join(
        f"(s{k} * 1.0 / nullif(c{k}, 0))"
        f" - ((s - s{k}) * 1.0 / nullif(n - c{k}, 0)) AS g{k}"
        for k in range(1, _PERM_B + 1)
    )
    extreme = " + ".join(
        f"(CASE WHEN abs(g{k}) >= abs(g_obs) THEN 1 ELSE 0 END)"
        for k in range(1, _PERM_B + 1)
    )
    return f"""
    WITH base AS (
      SELECT source, n_chars AS x, {treat} AS treat, {h} AS h
      FROM documents
    ), agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(count(*) FILTER (WHERE treat) AS BIGINT) AS nt,
             CAST(sum(CASE WHEN treat THEN x END) AS BIGINT) AS st,
             {cols}
      FROM base GROUP BY source
    ), gg AS (
      SELECT source, n, nt,
             (st * 1.0 / nullif(nt, 0))
               - ((s - st) * 1.0 / nullif(n - nt, 0)) AS g_obs,
             {gaps}
      FROM agg
    ), pv AS (
      SELECT source, n, nt, round(g_obs, 6) AS gap_obs,
             CAST(round((1.0 + ({extreme})) / {_PERM_B + 1}.0, 6)
                  AS DECIMAL(18,6)) AS p_value
      FROM gg
    ), ranked AS (
      SELECT pv.*,
             CAST(row_number() OVER (ORDER BY p_value, source) AS BIGINT)
               AS p_rank,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pv
    ), kstar AS (
      SELECT coalesce(max(CASE WHEN CAST(p_value AS DOUBLE)
                                    <= p_rank * {_BH_ALPHA} / m
                               THEN p_rank END), 0) AS k_star
      FROM ranked
    )
    SELECT r.source, r.n AS n_docs, r.nt AS n_treat, r.gap_obs,
           r.p_value, r.p_rank,
           round(r.p_rank * {_BH_ALPHA} / r.m, 6) AS bh_threshold,
           r.p_rank <= k.k_star AS rejected
    FROM ranked r CROSS JOIN kstar k
    """


@query("dq_bh_fdr", oracle=_bh_fdr_oracle())
def dq_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENJAMINI-HOCHBERG FDR control (Benjamini & Hochberg 1995) over a
    FAMILY of per-segment hypothesis tests — the multiple-testing step
    the experimentation kit stopped short of: dq_permutation_test asks
    one question of the whole corpus; a real quality dashboard asks it
    of EVERY source at once, and at m segments a per-test alpha yields
    ~m*alpha false alarms. Here each source runs its own Fisher
    randomization test (the dq_permutation_test machinery, grouped —
    one md5 per row funds 32 replicate coins, complement arithmetic,
    add-one-smoothed p; the "treatment" is a second salted-hash coin
    because the fixture's doc_id parity is perfectly source-correlated
    and would make every within-source split degenerate), then BH
    step-up: sort the m p-values
    ascending, k* = max k with p_(k) <= k*alpha/m, reject exactly ranks
    1..k* — controlling the EXPECTED FALSE-DISCOVERY RATE at alpha = 0.10
    rather than the family-wise error Bonferroni would
    overpay for. The fixture assignment is null by construction, so the
    attested verdict is the calm path; the rejection path (an injected
    per-source effect must be discovered, and discoveries are a prefix
    of the p-value order) is pinned in tests/test_r14_invariants.py.

    Parity discipline: all replicate sums are exact BIGINTs per SOURCE
    group; p-values are round-6 DECIMALs (granularity 1/33), ranked
    with an explicit (p_value, source) total order; the step-up
    comparison casts the same decimal to double against k*alpha/m built
    from exact integers and the shared alpha literal — identical IEEE
    operands in both engines.

    Spark-first / 100 TB: ONE grouped aggregation over the scan (the
    68 replicate columns are map-side combinable conditional sums —
    B never amplifies rows); everything after runs on the m-row
    per-source frame: the rank window rides the bounded_window_key
    idiom (m = |source catalog|, a fixed enumerated domain), and k*
    is a 1-row aggregate broadcast back. Adding segments scales the
    tiny frame, never the scan."""
    d = t(spark, sf_dir, "documents")
    h = "md5(concat(cast(doc_id as string), ':perm'))"
    assign = _perm_bit("md5(concat(cast(doc_id as string), ':assign'))", 1)
    base = d.selectExpr(
        "source", "n_chars AS x", f"{assign} AS treat", f"{h} AS h"
    )
    # r15 construction-cost rewrite — see dq_permutation_test's docstring
    # note: the same ~900 Column-API calls (fn 3.9 s vs act 0.28 s) become
    # ONE SQL string / one analysis pass; double literals spelled with the
    # D suffix to keep F.lit(1.0)'s DOUBLE type (bare SQL 1.0 is DECIMAL).
    rep_aggs = ",\n           ".join(
        f"CAST(sum(CASE WHEN {_perm_bit('h', k)} THEN x END) AS BIGINT) AS s{k},"
        f" CAST(sum(CASE WHEN {_perm_bit('h', k)} THEN 1 ELSE 0 END) AS BIGINT) AS c{k}"
        for k in range(1, _PERM_B + 1)
    )
    gaps = ",\n         ".join(
        f"((s{k} * 1.0D) / nullif(c{k}, 0))"
        f" - (((s - s{k}) * 1.0D) / nullif(n - c{k}, 0)) AS g{k}"
        for k in range(1, _PERM_B + 1)
    )
    extreme = " + ".join(
        f"(CASE WHEN abs(g{k}) >= abs(g_obs) THEN 1 ELSE 0 END)"
        for k in range(1, _PERM_B + 1)
    )
    alpha = float(_BH_ALPHA)
    return spark.sql(
        f"""
WITH agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         CAST(sum(CASE WHEN treat THEN x END) AS BIGINT) AS st,
         {rep_aggs}
  FROM {{base}}
  GROUP BY source
),
gg AS (
  SELECT source, n, nt,
         ((st * 1.0D) / nullif(nt, 0))
           - (((s - st) * 1.0D) / nullif(n - nt, 0)) AS g_obs,
         {gaps}
  FROM agg
),
pv AS (
  SELECT source, n, nt, round(g_obs, 6) AS gap_obs,
         CAST(round((1.0D + ({extreme})) / {float(_PERM_B + 1)}D, 6)
              AS DECIMAL(18,6)) AS p_value
  FROM gg
),
ranked AS (
  SELECT source, n, nt, gap_obs, p_value,
         CAST(row_number() OVER (PARTITION BY pmod(n, 1)
                                 ORDER BY p_value, source) AS BIGINT) AS p_rank,
         CAST(count(*) OVER (PARTITION BY pmod(n, 1)) AS BIGINT) AS m
  FROM pv
),
kstar AS (
  SELECT coalesce(max(CASE WHEN CAST(p_value AS DOUBLE)
                                <= p_rank * {alpha!r}D / m
                           THEN p_rank END), 0) AS k_star
  FROM ranked
)
SELECT /*+ BROADCAST(k) */
       r.source, r.n AS n_docs, r.nt AS n_treat, r.gap_obs, r.p_value,
       r.p_rank,
       round(r.p_rank * {alpha!r}D / r.m, 6) AS bh_threshold,
       (r.p_rank <= k.k_star) AS rejected
FROM ranked r CROSS JOIN kstar k
""",
        base=base,
    )


@query("dq_permutation_test", oracle=_perm_oracle())
def dq_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FISHER RANDOMIZATION (permutation) TEST — the exact-inference
    companion to dq_welch_ttest_drift's asymptotic t: does the even/odd
    doc_id "treatment" move mean document length? Under the sharp null
    the labels are exchangeable, so each of 32 Monte-Carlo replicates
    REASSIGNS every document by a fair coin and recomputes the mean gap;
    the p-value is the add-one-smoothed share of replicates at least as
    extreme as the observed gap ((1 + #extreme)/(B + 1), Davison &
    Hinkley). The fixture assignment is arbitrary by construction, so
    the registered verdict attests the calm path (reject_null false);
    the rejection path is exercised on an injected effect in
    tests/test_r13_invariants.py.

    One-pass massive-data shape (the eval_poisson_bootstrap_ci
    discipline): ONE md5 per row funds all 32 replicates (hex digit k
    <= '7' is coin k), each replicate is two map-side-combinable
    conditional-sum columns, and the complement side of every gap comes
    from the global totals by COMPLEMENT ARITHMETIC (the
    llmops_source_ablation trick) — zero row amplification, zero extra
    shuffles, B never touches the scan. All sums are exact BIGINTs, so
    every gap is a difference of two double divisions on identical
    operands and the extremeness comparisons are engine-identical;
    p-value granularity is 1/33, far from the 0.05 literal.

    The wide replicate expressions are built ONCE in a single
    projection + a single aggregate (the r12 CollapseProject lesson:
    chaining selects over wide in-row expressions re-inlines the tree
    and costs planner time per execution).

    r15 construction-cost rewrite (guide §1.2 fixed costs): the ~800
    Column-API calls that assembled the 68 replicate aggregates + 32 gap
    + 32 extremeness expressions cost 1.9-4.4 s of DRIVER time per
    construction (one py4j round-trip per operator, one eager re-analysis
    per ``select`` layer) — 10-25× the 0.15 s the query takes to RUN, and
    the dominant term under in-suite GC pressure (driver-measured 16 s
    in the r15 baseline sweep). The same three layers are now built as
    ONE SQL string through ``spark.sql(..., base=...)``: one round-trip,
    one parse, one analysis — 0.2-0.5 s, rows verified bit-identical.
    Double literals are spelled ``1.0D``/``0.05D`` because a bare SQL
    ``1.0`` parses as DECIMAL(2,1) where ``F.lit(1.0)`` was a DOUBLE."""
    d = t(spark, sf_dir, "documents")
    h = "md5(concat(cast(doc_id as string), ':perm'))"
    base = d.selectExpr("n_chars AS x", "(doc_id % 2) = 0 AS treat", f"{h} AS h")
    rep_aggs = ",\n           ".join(
        f"CAST(sum(CASE WHEN {_perm_bit('h', k)} THEN x END) AS BIGINT) AS s{k},"
        f" CAST(sum(CASE WHEN {_perm_bit('h', k)} THEN 1 ELSE 0 END) AS BIGINT) AS c{k}"
        for k in range(1, _PERM_B + 1)
    )
    gaps = ",\n         ".join(
        f"((s{k} * 1.0D) / c{k}) - (((s - s{k}) * 1.0D) / (n - c{k})) AS g{k}"
        for k in range(1, _PERM_B + 1)
    )
    extreme = " + ".join(
        f"(CASE WHEN abs(g{k}) >= abs(g_obs) THEN 1 ELSE 0 END)"
        for k in range(1, _PERM_B + 1)
    )
    return spark.sql(
        f"""
SELECT n AS n_docs, nt AS n_treat, round(g_obs, 6) AS gap_obs,
       CAST({_PERM_B} AS BIGINT) AS n_replicates,
       CAST({extreme} AS BIGINT) AS n_extreme,
       round((1.0D + ({extreme})) / {float(_PERM_B + 1)}D, 6) AS p_value,
       ((1.0D + ({extreme})) / {float(_PERM_B + 1)}D) <= 0.05D AS reject_null
FROM (
  SELECT n, nt, ((st * 1.0D) / nt) - (((s - st) * 1.0D) / (n - nt)) AS g_obs,
         {gaps}
  FROM (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS s,
           CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS nt,
           CAST(sum(CASE WHEN treat THEN x END) AS BIGINT) AS st,
           {rep_aggs}
    FROM {{base}}
  )
)
""",
        base=base,
    )
