"""Round-4 (final) evaluation-metrics + pattern-mining + allocation
family: rank-based AUC, multiclass precision/recall/F1, calibration
error (ECE), interval coalescing, market-basket lift, weighted medians,
and largest-remainder quota allocation.

These close two gaps a training-data platform hits right after the
statistical-monitoring family (plans.stats_queries): **evaluating the
classifiers the pipeline itself runs** (the quality classifier, the
language-ID heuristic — "is its score actually discriminative (AUC)?",
"is it calibrated (ECE)?", "what is per-class P/R/F1?") and **turning
corpus statistics into operational decisions** (how many sample slots
per language — exactly, with largest-remainder rounding; which item
pairs co-occur beyond chance — lift; how much wall-clock a user's
activity actually covers — interval coalescing).

Oracle discipline per plans.registry: metric numerators/denominators are
carried as exact BIGINT (rank sums via the 2× integer trick, weights via
DECIMAL) and divided once as doubles, rounded to 6; the only windows are
per-key (user_id, returnflag) or over post-aggregation grids bounded by
value cardinality and marked with the non-foldable
``bounded_window_key`` idiom so the plan linter sees the bound.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from batch_public_spark.operators.graph import term_cooccurrence, triangles
from batch_public_spark.plans.lint import bounded_window_key
from batch_public_spark.plans.registry import query
from batch_public_spark.sources.tables import cut
from batch_public_spark.sources.tables import inline_rows
from batch_public_spark.sources.tables import load_table as t
from batch_public_spark.sources.tables import spread

# Session-style activity half-window: an event "covers" [ts, ts+5min).
_COVER_US = 300 * 1_000_000

# Largest-remainder allocation: total sample slots to hand out. 777 is
# deliberately coprime-ish with the fixture's lang counts so base shares
# have non-trivial remainders at every SF (1000 would divide evenly).
_SLOTS = 777


@query(
    "events_interval_coalesce",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + {_COVER_US} AS e
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                    OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ), islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ), per_island AS (
      SELECT user_id, island,
             max(e) - min(s) AS covered_us
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(covered_us) AS BIGINT) AS covered_us,
           CAST(max(covered_us) AS BIGINT) AS max_island_us
    FROM per_island GROUP BY 1
    """,
)
def events_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (coalescing): treat each event as covering
    [ts, ts+5min) and merge overlapping/touching-free intervals per user
    into maximal islands, reporting how much wall-clock each user's
    activity actually covers — the dwell-time/uptime primitive that a
    naive sum-of-durations double-counts. Classic cumulative-max
    algorithm: an interval starts a new island iff its start exceeds the
    running max end of every earlier interval.

    Spark-first: ONE shuffle on user_id shared by both window passes and
    the final aggregation (same partition key throughout); arithmetic is
    entirely integer microseconds (``unix_micros``), so the hash cannot
    drift. At 100 TB the plan is unchanged — per-user event counts bound
    the window state, and no global sort exists anywhere."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_COVER_US)).alias("e"),
    )
    order = W.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(order.rowsBetween(W.unboundedPreceding, -1))
    flagged = ev.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0).alias(
            "new_island"
        ),
    )
    # Same (s, event_id) total order as the flag window: a tie in (s, e)
    # (two events, one timestamp) must not let the engines disagree on
    # which island the tied rows join.
    run = (
        W.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(W.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(run).alias("island")
    )
    per_island = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("covered_us")
    )
    return per_island.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_islands"),
        F.sum("covered_us").cast("bigint").alias("covered_us"),
        F.max("covered_us").cast("bigint").alias("max_island_us"),
    )


@query(
    "mba_brand_pair_lift",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM baskets
    ), singles AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n_s FROM baskets GROUP BY 1
    ), pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT pr.brand_a, pr.brand_b, pr.n_ab,
           round(pr.n_ab * 1.0 / n.n_orders, 6) AS support,
           round(pr.n_ab * 1.0 / sa.n_s, 6) AS confidence,
           round((pr.n_ab * 1.0 * n.n_orders) / (sa.n_s * sb.n_s), 6) AS lift
    FROM pairs pr
    JOIN singles sa ON pr.brand_a = sa.p_brand
    JOIN singles sb ON pr.brand_b = sb.p_brand
    CROSS JOIN n
    """,
)
def mba_brand_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: for every pair of part brands
    co-ordered in the same order, support / confidence / lift — the
    "customers who bought X also bought Y beyond chance" readout
    (lift = P(A∩B) / (P(A)·P(B)) over order baskets).

    Spark-first: baskets are distinct (orderkey, brand) pairs (part dim
    broadcast into the lineitem scan); the pair generation is a
    SELF-JOIN ON THE BASKET KEY, never an all-pairs product — per-order
    line counts bound the blow-up at ≤ C(lines,2) per basket, and the
    brand vocabulary (25) bounds the output at C(25,2) rows regardless
    of fact size. Singles and the order count are tiny post-aggregation
    tables broadcast onto the pair counts. At 100 TB: identical plan —
    one shuffle on orderkey for baskets, one on the pair key."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        # four consumers (order count, singles, both self-join sides) —
        # cut once, lazily; at scale this materializes the basket table a
        # production run would persist anyway
        .transform(cut)
    )
    n = baskets.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"))
    singles = baskets.groupBy("p_brand").agg(F.count("*").cast("bigint").alias("n_s"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"), F.col("b.p_brand").alias("brand_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    sa = singles.select(F.col("p_brand").alias("brand_a"), F.col("n_s").alias("na"))
    sb = singles.select(F.col("p_brand").alias("brand_b"), F.col("n_s").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(F.col("n_ab") * 1.0 / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_ab") * 1.0 / F.col("na"), 6).alias("confidence"),
            F.round(
                (F.col("n_ab") * 1.0 * F.col("n_orders")) / (F.col("na") * F.col("nb")), 6
            ).alias("lift"),
        )
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH grid AS (
      SELECT l_returnflag, l_quantity,
             sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS w
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, l_quantity, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM grid
    )
    SELECT l_returnflag,
           CAST(min(l_quantity) AS DOUBLE) AS weighted_median_qty,
           round(CAST(max(tw) AS DOUBLE), 2) AS total_weight
    FROM cum
    WHERE cw * 2 >= tw
    GROUP BY 1
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the smallest l_quantity whose cumulative revenue
    weight reaches half the flag's total revenue — "the quantity at which
    half the money sits at or below". The unweighted median/percentile
    family (agg_median_orders, agg_percentiles_lineitem) can't express
    revenue-weighted location statistics.

    Spark-first: the fact scan collapses FIRST to the (flag × distinct
    quantity) grid with map-side partial sums (≤ 3×50 rows at any SF), so
    both windows and the threshold test run on a bounded table; weights
    accumulate as DECIMAL(18,4) (exact, order-independent) and the
    half-total comparison ``2·cum ≥ tot`` is decimal-exact in both
    engines — no floating comparison anywhere near the boundary."""
    grid = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("w"))
    )
    byflag = W.partitionBy("l_returnflag")
    cum = grid.select(
        "l_returnflag",
        "l_quantity",
        F.sum("w")
        .over(byflag.orderBy("l_quantity").rowsBetween(W.unboundedPreceding, 0))
        .alias("cw"),
        F.sum("w").over(byflag).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").cast("double").alias("weighted_median_qty"),
            F.round(F.max("tw").cast("double"), 2).alias("total_weight"),
        )
    )


@query(
    "llmops_largest_remainder_allocation",
    oracle=f"""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM counts
    ), based AS (
      SELECT c.lang, c.n_docs,
             ({_SLOTS} * c.n_docs) // t.n AS base_alloc,
             ({_SLOTS} * c.n_docs) % t.n AS rem
      FROM counts c CROSS JOIN tot t
    ), ranked AS (
      SELECT lang, n_docs, base_alloc, rem,
             row_number() OVER (ORDER BY rem DESC, lang) AS rk,
             {_SLOTS} - sum(base_alloc) OVER () AS leftover
      FROM based
    )
    SELECT lang, n_docs,
           CAST(base_alloc AS BIGINT) AS base_alloc,
           CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
           CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS final_alloc
    FROM ranked
    """,
)
def llmops_largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) quota allocation: split a fixed
    sampling budget across languages proportional to corpus share, with
    the rounding leftovers going to the largest fractional remainders —
    the exact-integer way a curation pipeline turns "sample 777 docs
    proportionally" into per-language counts that provably sum to 777
    (naive per-group rounding over- or under-shoots).

    Spark-first: one aggregation collapses the corpus to the language
    grid; quota arithmetic is pure BIGINT (``div``/``pmod`` — no floor of
    a float anywhere, so a product that lands exactly on an integer can't
    misround). The remainder rank runs over the bounded language
    vocabulary and carries the non-foldable ``bounded_window_key`` so the
    plan linter sees the deliberate single partition."""
    counts = (
        t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    tot = counts.agg(F.sum("n_docs").cast("bigint").alias("n"))
    based = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.expr(f"({_SLOTS} * n_docs) div n").alias("base_alloc"),
        F.pmod(F.lit(_SLOTS) * F.col("n_docs"), F.col("n")).alias("rem"),
    )
    grid = W.partitionBy(bounded_window_key(F.col("rem")))
    ranked = based.select(
        "lang",
        "n_docs",
        "base_alloc",
        F.row_number().over(grid.orderBy(F.desc("rem"), "lang")).alias("rk"),
        (F.lit(_SLOTS) - F.sum("base_alloc").over(grid)).alias("leftover"),
    )
    extra = F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return ranked.select(
        "lang",
        "n_docs",
        F.col("base_alloc").cast("bigint").alias("base_alloc"),
        extra.cast("bigint").alias("extra"),
        (F.col("base_alloc") + extra).cast("bigint").alias("final_alloc"),
    )


@query(
    "llmops_score_auc",
    oracle="""
    WITH grid AS (
      SELECT n_chars AS len,
             CAST(count(*) AS BIGINT) AS n_tot,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
      FROM documents GROUP BY 1
    ), cum AS (
      SELECT len, n_tot, n_pos,
             coalesce(sum(n_tot) OVER (ORDER BY len
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM grid
    ), agg AS (
      SELECT CAST(sum(n_pos * (2 * before + n_tot + 1)) AS BIGINT) AS ranksum2,
             CAST(sum(n_pos) AS BIGINT) AS n_pos,
             CAST(sum(n_tot) - sum(n_pos) AS BIGINT) AS n_neg
      FROM cum
    )
    SELECT n_pos, n_neg,
           round((ranksum2 - n_pos * (n_pos + 1)) * 1.0 / (2.0 * n_pos * n_neg), 6) AS auc
    FROM agg
    """,
)
def llmops_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based AUC (Mann–Whitney U): does document length, used as a
    classifier score, actually discriminate English from non-English
    docs? AUC is the probability a random positive outranks a random
    negative — the threshold-free readout every pipeline-side classifier
    (quality score, lang-id confidence) gets evaluated with before its
    cutoff is chosen.

    Spark-first: the corpus collapses to the distinct-score grid in one
    aggregation (map-side combine), so the rank computation runs on a
    table bounded by score cardinality, not row count. Tied scores get
    average ranks via the 2× integer trick — ``Σ n_pos·(2·cum_before +
    n_tot + 1)`` is exactly twice the positive rank sum, all BIGINT, so
    the single final division is the only floating op. The cumulative
    window carries ``bounded_window_key`` (bounded by the score domain);
    at 100 TB with a continuous score, pre-bucket the score to fixed
    precision first — same plan."""
    d = t(spark, sf_dir, "documents")
    grid = d.groupBy(F.col("n_chars").alias("len")).agg(
        F.count("*").cast("bigint").alias("n_tot"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("bigint").alias("n_pos"),
    )
    cumw = (
        W.partitionBy(bounded_window_key(F.col("len")))
        .orderBy("len")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = grid.select(
        "n_tot",
        "n_pos",
        F.coalesce(F.sum("n_tot").over(cumw), F.lit(0)).alias("before"),
    )
    agg = cum.agg(
        F.sum(F.col("n_pos") * (2 * F.col("before") + F.col("n_tot") + 1))
        .cast("bigint")
        .alias("ranksum2"),
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        (F.sum("n_tot") - F.sum("n_pos")).cast("bigint").alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("ranksum2") - F.col("n_pos") * (F.col("n_pos") + 1))
            * 1.0
            / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


@query(
    "llmops_classifier_prf",
    oracle="""
    WITH scored AS (
      SELECT lang AS actual,
             CASE WHEN position(' the ' IN text) > 0 THEN 'en'
                  ELSE (['de','es','fr','zh'])[1 + ascii(substr(md5(text), 1, 1)) % 4]
             END AS pred
      FROM documents
    ), cm AS (
      SELECT actual, pred, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY 1, 2
    ), tp AS (
      SELECT actual AS cls, c AS tp FROM cm WHERE actual = pred
    ), act AS (
      SELECT actual AS cls, CAST(sum(c) AS BIGINT) AS support FROM cm GROUP BY 1
    ), prd AS (
      SELECT pred AS cls, CAST(sum(c) AS BIGINT) AS n_pred FROM cm GROUP BY 1
    )
    SELECT a.cls,
           CAST(coalesce(t.tp, 0) AS BIGINT) AS tp,
           CAST(coalesce(p.n_pred, 0) - coalesce(t.tp, 0) AS BIGINT) AS fp,
           CAST(a.support - coalesce(t.tp, 0) AS BIGINT) AS fn,
           a.support,
           round(CASE WHEN coalesce(p.n_pred, 0) = 0 THEN 0.0
                      ELSE coalesce(t.tp, 0) * 1.0 / p.n_pred END, 6) AS precision,
           round(coalesce(t.tp, 0) * 1.0 / a.support, 6) AS recall,
           round(CASE WHEN coalesce(t.tp, 0) = 0 THEN 0.0
                      ELSE 2.0 * (coalesce(t.tp, 0) * 1.0 / p.n_pred)
                           * (coalesce(t.tp, 0) * 1.0 / a.support)
                           / ((coalesce(t.tp, 0) * 1.0 / p.n_pred)
                              + (coalesce(t.tp, 0) * 1.0 / a.support)) END, 6) AS f1
    FROM act a
    LEFT JOIN tp t ON a.cls = t.cls
    LEFT JOIN prd p ON a.cls = p.cls
    """,
)
def llmops_classifier_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass precision/recall/F1 from a confusion matrix: evaluate
    a deterministic baseline language predictor (' the ' marker → 'en',
    otherwise an md5-hash pick among the rest — i.e. signal for one class,
    chance for the others) against the labeled lang column. The point is
    the metric machinery — per-class TP/FP/FN from one grouped confusion
    count, the readout every lang-id / quality-classifier change ships
    with.

    Spark-first: ONE aggregation builds the (actual × pred) confusion
    matrix — bounded by the label vocabulary squared — and every metric
    derives from broadcast-joined marginals of that tiny table; the full
    corpus is scanned exactly once, predictor inline in codegen (md5 +
    pmod, identical bytes in both engines). Zero-denominator guards make
    empty predicted classes score 0, not NULL."""
    d = t(spark, sf_dir, "documents")
    others = F.array(F.lit("de"), F.lit("es"), F.lit("fr"), F.lit("zh"))
    pred = F.when(F.instr("text", " the ") > 0, F.lit("en")).otherwise(
        F.element_at(others, (1 + F.pmod(F.ascii(F.substring(F.md5("text"), 1, 1)), 4)))
    )
    cm = (
        d.select(F.col("lang").alias("actual"), pred.alias("pred"))
        .groupBy("actual", "pred")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tp = cm.filter(F.col("actual") == F.col("pred")).select(
        F.col("actual").alias("cls"), F.col("c").alias("tp")
    )
    act = cm.groupBy(F.col("actual").alias("cls")).agg(
        F.sum("c").cast("bigint").alias("support")
    )
    prd = cm.groupBy(F.col("pred").alias("cls")).agg(
        F.sum("c").cast("bigint").alias("n_pred")
    )
    j = (
        act.join(F.broadcast(tp), "cls", "left")
        .join(F.broadcast(prd), "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            "support",
        )
    )
    prec = F.when(F.col("n_pred") == 0, F.lit(0.0)).otherwise(
        F.col("tp") * 1.0 / F.col("n_pred")
    )
    rec = F.col("tp") * 1.0 / F.col("support")
    f1 = F.when(F.col("tp") == 0, F.lit(0.0)).otherwise(
        2.0 * prec * rec / (prec + rec)
    )
    return j.select(
        "cls",
        F.col("tp").cast("bigint").alias("tp"),
        (F.col("n_pred") - F.col("tp")).cast("bigint").alias("fp"),
        (F.col("support") - F.col("tp")).cast("bigint").alias("fn"),
        "support",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


@query(
    "llmops_calibration_ece",
    oracle="""
    WITH scored AS (
      SELECT least(n_chars, 400) AS conf400,
             least(CAST(floor(least(n_chars, 400) / 400.0 * 10) AS INTEGER), 9) AS bin,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ), n AS (
      SELECT CAST(count(*) AS BIGINT) AS n_all FROM scored
    ), bins AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conf400) AS BIGINT) AS conf_sum400,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM scored GROUP BY 1
    )
    SELECT bin, n, n_pos,
           round(conf_sum400 / (400.0 * n), 6) AS avg_conf,
           round(n_pos * 1.0 / n, 6) AS pos_rate,
           round((n * 1.0 / n_all)
                 * abs(conf_sum400 / (400.0 * n) - n_pos * 1.0 / n), 6) AS ece_term
    FROM bins CROSS JOIN n
    """,
)
def llmops_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability diagram + Expected Calibration Error:
    bucket a [0,1] confidence score (length-based, ``min(n_chars,400)/
    400``) into deciles and compare each bin's mean confidence against
    its observed positive rate; ECE is the count-weighted sum of the
    per-bin gaps. The "is the classifier's probability a probability?"
    check that gates using a quality score as a sampling weight.

    Spark-first: one pass bins and counts (map-side combine to ≤10
    rows); mean confidence is carried as the exact BIGINT sum of the
    clamped integer numerators and divided once at output (no
    order-dependent double accumulation), and the bin id comes from an
    integer-exact floor of a shared-literal division, so both engines
    land every doc in the same bin. ece_term derives from identical IEEE
    doubles in both engines — sum the column for the headline ECE."""
    d = t(spark, sf_dir, "documents")
    conf400 = F.least(F.col("n_chars"), F.lit(400))
    scored = d.select(
        conf400.alias("conf400"),
        F.least((F.floor(conf400 / 400.0 * 10)).cast("int"), F.lit(9)).alias("bin"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    n = scored.agg(F.count("*").cast("bigint").alias("n_all"))
    bins = scored.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("conf400").cast("bigint").alias("conf_sum400"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    avg_conf = F.col("conf_sum400") / (400.0 * F.col("n"))
    pos_rate = F.col("n_pos") * 1.0 / F.col("n")
    return bins.crossJoin(F.broadcast(n)).select(
        "bin",
        "n",
        "n_pos",
        F.round(avg_conf, 6).alias("avg_conf"),
        F.round(pos_rate, 6).alias("pos_rate"),
        F.round((F.col("n") * 1.0 / F.col("n_all")) * F.abs(avg_conf - pos_rate), 6).alias(
            "ece_term"
        ),
    )


@query(
    "events_seasonal_residual_outliers",
    oracle="""
    WITH cells AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             isodow(ts) AS dow,
             CAST(hour(ts) AS INTEGER) AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ), base AS (
      SELECT dow, hr,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS sum_c,
             CAST(sum(c * c) AS BIGINT) AS sum_c2
      FROM cells GROUP BY 1, 2
    )
    SELECT cells.day, cells.hr, cells.c,
           round(base.sum_c * 1.0 / base.n_days, 6) AS expected,
           round((base.n_days * cells.c - base.sum_c)
                 / (base.n_days
                    * sqrt((base.n_days * base.sum_c2 - base.sum_c * base.sum_c)
                           * 1.0 / (base.n_days * base.n_days))), 6) AS zscore
    FROM cells JOIN base ON cells.dow = base.dow AND cells.hr = base.hr
    WHERE base.n_days >= 2
      AND (base.n_days * base.sum_c2 - base.sum_c * base.sum_c) > 0
      AND abs((base.n_days * cells.c - base.sum_c)
              / (base.n_days
                 * sqrt((base.n_days * base.sum_c2 - base.sum_c * base.sum_c)
                        * 1.0 / (base.n_days * base.n_days)))) > 1.5
    """,
)
def events_seasonal_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection: compare each (day, hour)
    event count against the baseline for that ISO-weekday × hour cell
    (mean ± population σ across all days), and report cells whose
    z-score exceeds ±1.5 — "Tuesday 3am is quiet *for a Tuesday 3am*", the
    step after events_dow_hour_profile that turns the profile into an
    alert. A raw-count threshold can't distinguish a weekend dip from an
    outage; the residual can. The ±1.5 gate is fixture-calibrated: with
    d days of history a population z-score is bounded by √(d−1), so the
    ~30-day fixtures cap |z| near 1.7 — production history would run the
    conventional ±3 on the same plan.

    Spark-first: the fact scan collapses to hourly cells in one
    aggregation (map-side combine); the baseline is a second aggregation
    over the bounded 7×24 grid, broadcast back onto the cells. Variance
    comes from exact BIGINT moment sums (n·Σc² − (Σc)²), so the only
    floating ops are one division and one IEEE-correctly-rounded sqrt —
    identical doubles in both engines, no accumulation-order drift."""
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.dayofweek(F.date_sub("ts", 1)).alias("dow"),  # isodow: Mon=1..Sun=7
        F.hour("ts").cast("int").alias("hr"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    base = cells.groupBy("dow", "hr").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("sum_c"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_c2"),
    )
    j = cells.join(F.broadcast(base), ["dow", "hr"])
    var_num = F.col("n_days") * F.col("sum_c2") - F.col("sum_c") * F.col("sum_c")
    z = (F.col("n_days") * F.col("c") - F.col("sum_c")) / (
        F.col("n_days")
        * F.sqrt(var_num * 1.0 / (F.col("n_days") * F.col("n_days")))
    )
    return (
        j.filter((F.col("n_days") >= 2) & (var_num > 0) & (F.abs(z) > 1.5))
        .select(
            "day",
            "hr",
            "c",
            F.round(F.col("sum_c") * 1.0 / F.col("n_days"), 6).alias("expected"),
            F.round(z, 6).alias("zscore"),
        )
    )


@query(
    "llmops_inverted_index",
    oracle=r"""
    WITH dt AS (
      SELECT DISTINCT doc_id, lower(tk.tok) AS term
      FROM documents,
           UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                              s -> length(s) > 0)) AS tk(tok)
    ), vocab AS (
      SELECT term, df FROM (
        SELECT term, CAST(count(*) AS BIGINT) AS df,
               ROW_NUMBER() OVER (ORDER BY count(*) DESC, term) AS r
        FROM dt GROUP BY term) WHERE r <= 50
    ), capped AS (
      SELECT dt.doc_id, dt.term FROM (
        SELECT doc_id, term,
               ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS pr
        FROM dt) dt JOIN vocab USING (term)
      WHERE dt.pr <= 20
    )
    SELECT c.term, v.df,
           array_to_string(list(c.doc_id ORDER BY c.doc_id), ',') AS postings,
           CAST(count(*) AS BIGINT) AS n_postings
    FROM capped c JOIN vocab v USING (term)
    GROUP BY 1, 2
    """,
)
def llmops_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: for the top-50-df vocabulary, the
    sorted posting list of documents containing each term (capped at 20
    postings per term) plus document frequency — the search-index build
    step a training-data platform runs for contamination lookups and
    interactive corpus debugging ("show me every doc with this term").

    Spark-first: postings are CAPPED BEFORE collection by a per-term rank
    window (partitioned by term — no global sort), so the grouped
    collect_list holds ≤ 20 ids per term and executor state stays bounded
    no matter the corpus size; at 100 TB the same plan shards postings by
    (term, bucket) for full lists. Lists are sorted then serialized to a
    canonical comma string so the cross-engine hash sees bytes, not
    engine-specific array renderings."""
    d = t(spark, sf_dir, "documents")
    from batch_public_spark.operators.textops import tokens

    dt = (
        d.select(
            "doc_id",
            F.explode(F.transform(tokens(F.col("text")), F.lower)).alias("term"),
        )
        .distinct()
        # two consumers (vocabulary pass + the vocab-filtered projection):
        # cut the corpus explode+distinct once, lazily
        .transform(cut)
    )
    df_counts = dt.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    vocab = df_counts.orderBy(F.desc("df"), "term").limit(50)
    per_term = W.partitionBy("term").orderBy("doc_id")
    capped = (
        dt.join(F.broadcast(vocab.select("term")), "term")
        .withColumn("pr", F.row_number().over(per_term))
        .filter(F.col("pr") <= 20)
    )
    return (
        capped.groupBy("term")
        .agg(
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("postings"),
            F.count("*").cast("bigint").alias("n_postings"),
        )
        .join(F.broadcast(vocab), "term")
        .select("term", "df", "postings", "n_postings")
    )


@query(
    "graph_clustering_coefficient",
    oracle=r"""
    WITH dt AS (
      SELECT DISTINCT doc_id, lower(tk.tok) AS term
      FROM documents,
           UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                              s -> length(s) > 0)) AS tk(tok)
    ), vocab AS (
      SELECT term FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY count(*) DESC, term) AS r
        FROM dt GROUP BY term) WHERE r <= 30
    ), dv AS (SELECT dt.doc_id, dt.term FROM dt JOIN vocab USING (term)),
    edges AS (
      SELECT u, v FROM (
        SELECT a.term AS u, b.term AS v, count(*) AS w
        FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY 1, 2
      ) ORDER BY w DESC, u, v LIMIT 200
    ), deg AS (
      SELECT term, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT u AS term FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY 1
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), tcount AS (
      SELECT term, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS term FROM tri UNION ALL
        SELECT b FROM tri UNION ALL
        SELECT c FROM tri)
      GROUP BY 1
    )
    SELECT d.term, d.degree,
           CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
           round(CASE WHEN d.degree < 2 THEN 0.0
                      ELSE 2.0 * coalesce(tc.n_triangles, 0)
                           / (d.degree * (d.degree - 1)) END, 6) AS clustering
    FROM deg d LEFT JOIN tcount tc USING (term)
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex: 2·T(v) / (deg(v)·(deg(v)−1))
    on the BACKBONE of the top-30 term co-occurrence graph — the 200
    strongest co-occurrence edges by shared-document count (deterministic
    (w DESC, u, v) order). The readout separates hub terms (low
    clustering, bridge many topics) from community terms (high
    clustering). Backboning is the standard prefilter for co-occurrence
    graphs and is what makes the metric non-degenerate here: the
    unweighted graph over a 31-term vocabulary is the complete K30, where
    every coefficient is identically 1.0 (r7 vacuous-fixture audit).
    Completes the graph family: components, PageRank, triangles, and now
    the triangle-to-wedge ratio.

    Spark-first: edge weights come from the same hash aggregation that
    deduped edges before; the top-200 selection is a TakeOrdered limit
    (never a one-partition global window); then the ordered-edge
    wedge-closure join as the triangle query (each triangle counted
    once), degrees from one union + hash aggregate, and the final combine
    is a broadcast left join on the bounded vocabulary —
    triangle-free vertices keep a 0 row, so the output covers every
    backbone vertex, not just triangle members."""
    edges = (
        term_cooccurrence(t(spark, sf_dir, "documents"))
        .orderBy(F.desc("w"), "u", "v")
        .limit(200)
        .select("u", "v")
        .transform(cut)  # degree pass + three join roles
    )
    deg = (
        edges.select(F.col("u").alias("term"))
        .unionAll(edges.select(F.col("v").alias("term")))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    tcount = triangles(edges).withColumnRenamed("vertex", "term")
    j = deg.join(F.broadcast(tcount), "term", "left").select(
        "term", "degree", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )
    clustering = F.when(F.col("degree") < 2, F.lit(0.0)).otherwise(
        2.0 * F.col("n_triangles") / (F.col("degree") * (F.col("degree") - 1))
    )
    return j.select(
        "term",
        "degree",
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        F.round(clustering, 6).alias("clustering"),
    )


@query(
    "window_pareto_frontier",
    oracle="""
    WITH flagged AS (
      SELECT o_orderpriority,
             strftime(o_orderdate, '%Y-%m-%d') AS day,
             o_orderkey, o_totalprice,
             max(o_totalprice) OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM orders
    )
    SELECT o_orderpriority, day, o_orderkey, o_totalprice
    FROM flagged
    WHERE prev_max IS NULL OR o_totalprice > prev_max
    """,
)
def window_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking points (the streaming form of a 2-D Pareto
    frontier): per order priority, the orders whose total price strictly
    exceeds every earlier order's — i.e. the skyline of (earliest date,
    highest price). The running-record shape shows up as "new
    highest-quality doc seen so far" curation cursors and
    best-so-far monitoring; its output is provably small (expected
    O(log n) records per partition under random arrival).

    Spark-first: one shuffle on the priority key, one running-max window
    with an explicit ROWS frame and a total (date, orderkey) tie-break
    order identical in both engines; the comparison is on STORED doubles
    (no arithmetic), so strict inequality cannot drift. At 100 TB the
    same plan holds — partition cardinality bounds parallelism, and the
    window state is a single running max."""
    o = t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = o.select(
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        "o_orderkey",
        "o_totalprice",
        F.max("o_totalprice").over(w).alias("prev_max"),
    )
    return flagged.filter(
        F.col("prev_max").isNull() | (F.col("o_totalprice") > F.col("prev_max"))
    ).select("o_orderpriority", "day", "o_orderkey", "o_totalprice")


@query(
    "events_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,4)) AS v,
             epoch_us(ts) AS s,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               AS nxt
      FROM events
    ), seg AS (
      SELECT user_id, v, nxt - s AS dur_us FROM seq WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(dur_us) AS BIGINT) AS total_us,
           round(CAST(sum(v * dur_us) AS DOUBLE) / CAST(sum(dur_us) AS DOUBLE), 6)
             AS twap
    FROM seg GROUP BY 1
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP, TimescaleDB's ``time_weight``): treat
    each event's value as holding until the user's next event
    (last-observation-carried-forward) and average weighted by how long
    each value was in force — the correct summary for irregularly-sampled
    gauges, where the arithmetic mean over-weights chatty periods.

    Spark-first: one shuffle on user_id shared by the lead() window and
    the final aggregation; durations are exact integer microseconds and
    values go through DECIMAL(18,4), so the weighted sum Σ v·dur is
    decimal-exact and order-independent — the single closing division is
    the only floating op. The open final segment (no next event) is
    excluded in both engines."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.unix_micros("ts"), F.col("event_id"))
    seq = ev.select(
        "user_id",
        F.col("value").cast("decimal(18,4)").alias("v"),
        F.unix_micros("ts").alias("s"),
        F.lead(F.unix_micros("ts")).over(w).alias("nxt"),
    )
    seg = seq.filter(F.col("nxt").isNotNull()).select(
        "user_id", "v", (F.col("nxt") - F.col("s")).alias("dur_us")
    )
    return seg.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_segments"),
        F.sum("dur_us").cast("bigint").alias("total_us"),
        F.round(
            F.sum(F.col("v") * F.col("dur_us")).cast("double")
            / F.sum("dur_us").cast("double"),
            6,
        ).alias("twap"),
    )


@query(
    "agg_skew_kurtosis_exact",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS s2,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS s4
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n,
           round(s1 * 1.0 / n, 6) AS mean,
           round((s2 * 1.0 / n) - (s1 * 1.0 / n) * (s1 * 1.0 / n), 6) AS variance,
           round(CASE WHEN (s2 * 1.0 / n) - (s1 * 1.0 / n) * (s1 * 1.0 / n) > 0
                 THEN CASE WHEN ((s2 * 1.0 / n) - (s1 * 1.0 / n) * (s1 * 1.0 / n))
                                * sqrt((s2 * 1.0 / n)
                                       - (s1 * 1.0 / n) * (s1 * 1.0 / n)) > 0
                      THEN ((s3 * 1.0 / n) - 3.0 * (s1 * 1.0 / n) * (s2 * 1.0 / n)
                       + 2.0 * (s1 * 1.0 / n) * (s1 * 1.0 / n) * (s1 * 1.0 / n))
                      / (((s2 * 1.0 / n) - (s1 * 1.0 / n) * (s1 * 1.0 / n))
                         * sqrt((s2 * 1.0 / n) - (s1 * 1.0 / n) * (s1 * 1.0 / n)))
                      END
                 END, 6)
             AS skewness,
           round(CASE WHEN ((s2 * 1.0 / n) - (s1 * 1.0 / n) * (s1 * 1.0 / n))
                           * ((s2 * 1.0 / n) - (s1 * 1.0 / n) * (s1 * 1.0 / n)) > 0
                 THEN ((s4 * 1.0 / n) - 4.0 * (s1 * 1.0 / n) * (s3 * 1.0 / n)
                  + 6.0 * (s1 * 1.0 / n) * (s1 * 1.0 / n) * (s2 * 1.0 / n)
                  - 3.0 * (s1 * 1.0 / n) * (s1 * 1.0 / n) * (s1 * 1.0 / n)
                    * (s1 * 1.0 / n))
                 / (((s2 * 1.0 / n) - (s1 * 1.0 / n) * (s1 * 1.0 / n))
                    * ((s2 * 1.0 / n) - (s1 * 1.0 / n) * (s1 * 1.0 / n))) - 3.0
                 END, 6)
             AS excess_kurtosis
    FROM m
    """,
)
def agg_skew_kurtosis_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment shape statistics (population skewness and excess
    kurtosis) per return flag, computed from EXACT integer raw-moment
    sums — the engine-independent formulation. The builtin skewness()/
    kurtosis() aggregates accumulate doubles in partition order (and the
    two engines disagree on sample-vs-population conventions), so this is
    the portable way to ship distribution-shape monitoring: one pass,
    map-side combinable, and the moments double as drift fingerprints.

    Spark-first: l_quantity is integral, so Σx..Σx⁴ stay BIGINT-exact
    (50⁴·|rows| is far inside int64 at any SF — at 100 TB promote the
    raw-moment sums to DECIMAL(38,0), same plan); central moments derive
    from the raw sums with an identical floating expression tree in both
    engines — divisions, multiplications, and IEEE-correctly-rounded
    sqrt (σ³ is var·√var, never pow(·,1.5), whose last ulp is
    libm-dependent).

    Robustness: skewness/kurtosis are NULL when the DERIVED divisor
    (var·√var resp. var²) is not > 0 — a constant-valued group has
    var = 0 and undefined shape moments; without the guard one such
    group raises DIVIDE_BY_ZERO under ANSI mode and kills the job
    (same derived-divisor class as llmops_embedding_quantize_error)."""
    q = F.col("l_quantity").cast("bigint")
    m = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(q).cast("bigint").alias("s1"),
            F.sum(q * q).cast("bigint").alias("s2"),
            F.sum(q * q * q).cast("bigint").alias("s3"),
            F.sum(q * q * q * q).cast("bigint").alias("s4"),
        )
    )
    mu = F.col("s1") * 1.0 / F.col("n")
    r2 = F.col("s2") * 1.0 / F.col("n")
    r3 = F.col("s3") * 1.0 / F.col("n")
    r4 = F.col("s4") * 1.0 / F.col("n")
    var = r2 - mu * mu
    m3 = r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu
    m4 = r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu
    sigma3 = var * F.sqrt(var)
    var2 = var * var
    return m.select(
        "l_returnflag",
        "n",
        F.round(mu, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.round(F.when(sigma3 > 0, m3 / sigma3), 6).alias("skewness"),
        F.round(F.when(var2 > 0, m4 / var2 - 3.0), 6).alias("excess_kurtosis"),
    )


@query(
    "llmops_embedding_dim_stats",
    oracle="""
    WITH idx AS (
      SELECT unnest(generate_series(1, len(embedding))) AS dim, embedding
      FROM embeddings
    ), flat AS (
      SELECT dim,
             CAST(floor(CAST(embedding[dim] AS DOUBLE) * 1048576) AS BIGINT) AS q
      FROM idx
    ), m AS (
      SELECT dim,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS qs,
             CAST(sum(q * q) AS BIGINT) AS qs2,
             CAST(min(q) AS BIGINT) AS qmin,
             CAST(max(q) AS BIGINT) AS qmax
      FROM flat GROUP BY 1
    )
    SELECT dim, n,
           round(qs / (n * 1048576.0), 6) AS mean,
           round(sqrt(qs2 * 1.0 / n - (qs * 1.0 / n) * (qs * 1.0 / n))
                 / 1048576.0, 6) AS stddev,
           round(qmin / 1048576.0, 6) AS vmin,
           round(qmax / 1048576.0, 6) AS vmax
    FROM m
    """,
)
def llmops_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean / σ / min / max for every
    coordinate) — the whitening/normalization profile a vector pipeline
    computes before PCA, quantization, or drift monitoring ("did dim 17's
    variance collapse after the encoder update?").

    Spark-first: posexplode flattens to (dim, value) with map-side
    combine down to |dims| rows; values are fixed-pointed FIRST
    (``floor(x·2²⁰)`` — float32→double widening is exact, the scaled
    floor is bit-identical in both engines, resolution 2⁻²⁰ ≪ float32
    noise), so all moment sums are BIGINT-exact and the only floating ops
    are the closing divisions and one IEEE-exact sqrt (variance as
    E[q²]−E[q]² in doubles — the n·Σq² integer form can overflow int64
    at corpus scale). At 100 TB this is
    ONE aggregation over the exploded corpus — no shuffle of raw
    vectors."""
    e = t(spark, sf_dir, "embeddings")
    flat = e.select(
        F.posexplode("embedding").alias("dim0", "v")
    ).select(
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * 1048576).cast("bigint").alias("q"),
    )
    m = flat.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("qs"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("qs2"),
        F.min("q").cast("bigint").alias("qmin"),
        F.max("q").cast("bigint").alias("qmax"),
    )
    return m.select(
        "dim",
        "n",
        F.round(F.col("qs") / (F.col("n") * 1048576.0), 6).alias("mean"),
        F.round(
            F.sqrt(
                F.col("qs2") * 1.0 / F.col("n")
                - (F.col("qs") * 1.0 / F.col("n")) * (F.col("qs") * 1.0 / F.col("n"))
            )
            / 1048576.0,
            6,
        ).alias("stddev"),
        F.round(F.col("qmin") / 1048576.0, 6).alias("vmin"),
        F.round(F.col("qmax") / 1048576.0, 6).alias("vmax"),
    )


@query(
    "dq_snapshot_diff_classify",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, md5(text) AS sig FROM documents
    ), v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN md5('v2 ' || text) ELSE md5(text) END AS sig
      FROM documents WHERE doc_id % 11 != 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, md5('new ' || text) AS sig
      FROM documents WHERE doc_id % 13 = 0
    ), classified AS (
      SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v2.doc_id IS NULL THEN 'removed'
                  WHEN v1.sig != v2.sig THEN 'changed'
                  ELSE 'unchanged' END AS change_kind,
             coalesce(v1.doc_id, v2.doc_id) AS doc_id
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT change_kind,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
    FROM classified GROUP BY 1
    """,
)
def dq_snapshot_diff_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff with row classification: full-outer-join two corpus
    versions on the primary key and bucket every row as added / removed /
    changed / unchanged by content signature — the audit a versioned data
    lake runs between ingests ("what did yesterday's crawl actually
    touch?"), and the verification side of CDC (cdc_snapshot_merge applies
    a diff; this derives one). v2 is simulated deterministically from the
    fixture (mod-7 edits, mod-11 deletes, mod-13 inserts) so the query is
    self-contained.

    Spark-first: comparison ships md5 CONTENT SIGNATURES, never text —
    the full outer join shuffles 16-byte digests on the key, which is the
    100 TB-viable shape (text stays columnar-pruned out of the scan in a
    real two-table diff); per-class id sums/extrema pin membership
    exactly without emitting per-row output."""
    d = t(spark, sf_dir, "documents")
    v1 = d.select("doc_id", F.md5("text").alias("sig"))
    v2 = (
        d.filter(F.col("doc_id") % 11 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0, F.md5(F.concat(F.lit("v2 "), F.col("text")))
            )
            .otherwise(F.md5("text"))
            .alias("sig"),
        )
        .unionAll(
            d.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.md5(F.concat(F.lit("new "), F.col("text"))).alias("sig"),
            )
        )
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
    classified = j.select(
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.sig") != F.col("b.sig"), "changed")
        .otherwise("unchanged")
        .alias("change_kind"),
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
    )
    return classified.groupBy("change_kind").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
    )


@query(
    "events_gapfill_interpolate",
    oracle="""
    WITH hi AS (SELECT date_trunc('hour', max(ts)) AS hi FROM events),
    lo AS (SELECT event_type, date_trunc('hour', min(ts)) AS lo
           FROM events GROUP BY 1),
    grid AS (SELECT event_type,
                    unnest(generate_series(lo.lo, hi.hi, INTERVAL 1 HOUR)) AS bucket
             FROM lo CROSS JOIN hi),
    agg AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value), 6) AS av
      FROM events GROUP BY 1, 2
    ), joined AS (
      SELECT g.event_type, g.bucket,
             CAST(epoch(g.bucket) AS BIGINT) AS hr,
             a.av
      FROM grid g
      LEFT JOIN agg a ON a.event_type = g.event_type AND a.bucket = g.bucket
    ), ctx AS (
      SELECT event_type, bucket, hr, av,
             last_value(av IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN av IS NOT NULL THEN hr END IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
             first_value(av IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN av IS NOT NULL THEN hr END IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM joined
    )
    SELECT event_type,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           CASE WHEN av IS NOT NULL THEN 0 ELSE 1 END AS was_gap,
           round(CASE
             WHEN av IS NOT NULL THEN av
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * (hr - ph) * 1.0 / (nh - ph)
           END, 6) AS value_interp
    FROM ctx
    """,
)
def events_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucket gapfill with LINEAR INTERPOLATION (TimescaleDB
    ``interpolate``): the companion to events_gapfill_locf — empty hourly
    buckets get the straight line between the surrounding observations
    instead of a held value; trailing gaps (no next observation) fall
    back to LOCF. The pair covers both gapfill semantics a downsampling
    pipeline offers.

    Spark-first: same bounded grid as the LOCF query (|types| × |hours|,
    independent of fact rows; per-type start at first observation so a
    previous value always exists); surrounding observations come from
    TWO ignore-nulls windows over one event_type partition — a forward
    last() and a backward first() — no self-join against the observation
    set. Bucket positions are exact epoch-second integers (the
    interpolation ratio is scale-invariant), observed averages are
    decimal-rounded doubles, and the interpolation expression tree is
    identical in both engines."""
    e = t(spark, sf_dir, "events")
    agg = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("value"),
            6,
        ).alias("av")
    )
    hi = e.agg(F.date_trunc("hour", F.max("ts")).alias("hi"))
    lo = e.groupBy("event_type").agg(F.date_trunc("hour", F.min("ts")).alias("lo"))
    grid = lo.crossJoin(F.broadcast(hi)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("bucket"),
    )
    joined = grid.join(agg, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.unix_timestamp("bucket").cast("bigint").alias("hr"),
        "av",
    )
    back = W.partitionBy("event_type").orderBy("hr").rowsBetween(W.unboundedPreceding, 0)
    fwd = W.partitionBy("event_type").orderBy("hr").rowsBetween(0, W.unboundedFollowing)
    obs_hr = F.when(F.col("av").isNotNull(), F.col("hr"))
    ctx = joined.select(
        "event_type",
        "bucket",
        "hr",
        "av",
        F.last("av", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_hr, ignorenulls=True).over(back).alias("ph"),
        F.first("av", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_hr, ignorenulls=True).over(fwd).alias("nh"),
    )
    interp = (
        F.when(F.col("av").isNotNull(), F.col("av"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("hr") - F.col("ph"))
            * 1.0
            / (F.col("nh") - F.col("ph"))
        )
    )
    return ctx.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.when(F.col("av").isNotNull(), 0).otherwise(1).alias("was_gap"),
        F.round(interp, 6).alias("value_interp"),
    )


@query(
    "llmops_impute_battery",
    oracle="""
    WITH masked AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE CAST(value AS DECIMAL(18,4)) END AS v
      FROM events
    ), stats AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(v) AS BIGINT) AS n_obs,
             CAST(count(*) - count(v) AS BIGINT) AS n_missing,
             CAST(sum(v) AS DOUBLE) AS s,
             round(quantile_cont(CAST(v AS DOUBLE), 0.5), 6) AS med
      FROM masked GROUP BY 1
    )
    SELECT user_id, n_obs, n_missing,
           round(s / n_obs, 6) AS impute_mean,
           med AS impute_median,
           round(s + n_missing * (s / n_obs), 6) AS sum_mean_filled,
           round(s + n_missing * med, 6) AS sum_median_filled,
           round(s, 6) AS sum_zero_filled
    FROM stats
    """,
)
def llmops_impute_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data imputation battery: mask a value column (error events
    → NULL, a deterministic missingness pattern), then impute per user
    with the three standard strategies — group mean, group exact median,
    constant zero — and report each strategy's filled total. The step
    every feature pipeline runs before models that can't take NULLs; the
    side-by-side totals show how much the strategy choice moves the
    distribution.

    Spark-first: ONE aggregation computes count/sum/median per user
    (exact ``percentile``; at 100 TB swap to approx_percentile — same
    plan), and the imputed totals are closed-form from those aggregates —
    the imputation itself never materializes a filled row set just to
    re-aggregate it. Sums go through DECIMAL; the only floating ops are
    the final divisions/multiplications on IEEE-identical inputs."""
    ev = t(spark, sf_dir, "events")
    masked = ev.select(
        "user_id",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("value").cast("decimal(18,4)"))
        .alias("v"),
    )
    stats = masked.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("v").cast("bigint").alias("n_obs"),
        (F.count("*") - F.count("v")).cast("bigint").alias("n_missing"),
        F.sum("v").cast("double").alias("s"),
        F.round(F.expr("percentile(cast(v as double), 0.5D)"), 6).alias("med"),
    )
    mean = F.col("s") / F.col("n_obs")
    return stats.select(
        "user_id",
        "n_obs",
        "n_missing",
        F.round(mean, 6).alias("impute_mean"),
        F.col("med").alias("impute_median"),
        F.round(F.col("s") + F.col("n_missing") * mean, 6).alias("sum_mean_filled"),
        F.round(F.col("s") + F.col("n_missing") * F.col("med"), 6).alias(
            "sum_median_filled"
        ),
        F.round(F.col("s"), 6).alias("sum_zero_filled"),
    )


@query(
    "window_rolling_corr",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority,
             strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ), framed AS (
      SELECT o_orderpriority, day, x, y,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(x) OVER w AS BIGINT) AS sx,
             CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
             CAST(sum(y) OVER w AS BIGINT) AS sy,
             CAST(sum(y * y) OVER w AS BIGINT) AS syy,
             CAST(sum(x * y) OVER w AS BIGINT) AS sxy
      FROM daily
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT o_orderpriority, day, n,
           round((n * sxy - sx * sy) * 1.0
                 / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)),
                 6) AS rolling_corr
    FROM framed
    WHERE n = 7
      AND (n * sxx - sx * sx) > 0
      AND (n * syy - sy * sy) > 0
    """,
)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation between two daily series — order count
    vs revenue over a 7-observation trailing window per priority — the
    co-movement monitor ("did volume decouple from revenue this week?")
    that complements the rolling mean/median family. Uses the raw-moment
    identity r = (nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) so the window
    carries SUMS, not residuals.

    Spark-first: the fact scan collapses to the (priority × day) grid
    first; all six windowed sums share ONE partition+frame spec and are
    BIGINT-exact end to end (revenue rounded to whole currency units
    first — a correlation is insensitive to sub-unit noise, and integer
    moments can't drift or overflow where decimal-squared sums hit the
    precision-38 cap), and
    the closing expression is the same IEEE tree in both engines — the
    builtin corr() aggregate is avoided precisely because its
    accumulation order is engine-dependent. Full windows only (n=7),
    degenerate zero-variance frames filtered in both engines."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        "o_orderpriority", F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").cast("bigint").alias("x"),
        F.sum(F.floor(F.col("o_totalprice") + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    framed = daily.select(
        "o_orderpriority",
        "day",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1.0 / F.sqrt(
        varx * 1.0 * vary
    )
    return framed.filter((F.col("n") == 7) & (varx > 0) & (vary > 0)).select(
        "o_orderpriority", "day", "n", F.round(corr, 6).alias("rolling_corr")
    )


@query(
    "events_cusum_drift",
    oracle="""
    WITH cells AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), params AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(c) AS BIGINT) AS tot,
             CAST(sum(c * c) AS BIGINT) AS tot2
      FROM cells GROUP BY 1
    ), sig AS (
      SELECT event_type, n_days, tot,
             sqrt(tot2 * 1.0 / n_days
                  - (tot * 1.0 / n_days) * (tot * 1.0 / n_days)) AS sigma
      FROM params
    ), dev AS (
      SELECT cells.event_type, cells.day, cells.c, sig.sigma, sig.n_days,
             sig.n_days * cells.c - sig.tot
               - CAST(ceil(sig.n_days * sig.sigma / 2.0) AS BIGINT) AS d
      FROM cells JOIN sig USING (event_type)
    ), cumr AS (
      SELECT event_type, day, c, sigma, n_days,
             sum(d) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
      FROM dev
    ), walk AS (
      SELECT event_type, day, c, sigma, n_days, r,
             min(r) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmin
      FROM cumr
    )
    SELECT event_type, day, c,
           CAST(r - least(rmin, 0) AS BIGINT) AS s_cusum_scaled,
           CAST(CASE WHEN r - least(rmin, 0) > 2.0 * sigma * n_days THEN 1 ELSE 0 END
                AS INTEGER) AS alarm
    FROM walk
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection on daily event volumes: the
    sequential test that fires when counts drift persistently above
    their per-type baseline, catching slow leaks a fixed threshold
    (events_rate_spike_detect) misses. The textbook recursion
    S_t = max(0, S_{t−1} + x_t − k) is not window-expressible, so we use
    the reflection identity S_t = R_t − min(0, min_{j≤t} R_j) with R the
    cumulative sum of deviations — two stacked cumulative windows.

    Spark-first: the fact scan collapses to (type, day) cells; the walk
    is SCALED BY n_days so the textbook allowance k = μ + σ/2 stays
    integer-exact (d = n_days·c − tot − ceil(n_days·σ/2), every term
    BIGINT; ceil of an IEEE-identical double is bit-stable) — no
    float accumulates across days; the 2σ·n_days alarm line is the only
    floating comparison (fixture-calibrated — ~30 days of stationary
    synthetic data never reaches the production 4–5σ decision interval). Both windows share one event_type partition —
    one shuffle, bounded by the calendar."""
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").cast("bigint").alias("c"))
    params = cells.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("tot"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("tot2"),
    )
    mean = F.col("tot") * 1.0 / F.col("n_days")
    sig = params.select(
        "event_type",
        "n_days",
        "tot",
        F.sqrt(F.col("tot2") * 1.0 / F.col("n_days") - mean * mean).alias("sigma"),
    )
    dev = cells.join(F.broadcast(sig), "event_type").select(
        "event_type",
        "day",
        "c",
        "sigma",
        "n_days",
        (
            F.col("n_days") * F.col("c")
            - F.col("tot")
            - F.ceil(F.col("n_days") * F.col("sigma") / 2.0).cast("bigint")
        ).alias("d"),
    )
    cum = (
        W.partitionBy("event_type").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    )
    walk = dev.select(
        "event_type",
        "day",
        "c",
        "sigma",
        "n_days",
        F.sum("d").over(cum).alias("r"),
    ).withColumn("rmin", F.min("r").over(cum))
    s = F.col("r") - F.least(F.col("rmin"), F.lit(0))
    return walk.select(
        "event_type",
        "day",
        "c",
        s.cast("bigint").alias("s_cusum_scaled"),
        F.when(s > 2.0 * F.col("sigma") * F.col("n_days"), 1)
        .otherwise(0)
        .cast("int")
        .alias("alarm"),
    )


@query(
    "agg_theil_decomposition",
    oracle="""
    WITH xl AS (
      SELECT o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,4)) AS x,
             CAST(round(o_totalprice * ln(o_totalprice), 10) AS DECIMAL(28,10)) AS xlx
      FROM orders
    ), grp AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(x) AS DOUBLE) AS sum_g,
             CAST(sum(xlx) AS DOUBLE) AS sxlx_g
      FROM xl GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(sum_g) AS DOUBLE) AS s FROM grp
    )
    SELECT o_orderpriority, n_g,
           round(sum_g / t.s, 6) AS revenue_share,
           round((sum_g / t.s)
                 * (sxlx_g / sum_g - ln(sum_g / n_g)), 6) AS theil_within_term,
           round((sum_g / t.s) * ln((sum_g / n_g) / (t.s / t.n)), 6)
             AS theil_between_term
    FROM grp CROSS JOIN tot t
    """,
)
def agg_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality index with exact within/between-group
    decomposition over order revenue by priority — the inequality
    measure that (unlike Gini, agg_gini_daily_revenue) decomposes
    additively: T = Σ s_g·T_g + Σ s_g·ln(μ_g/μ), so the report says how
    much revenue concentration lives INSIDE priorities vs BETWEEN them.
    The same decomposition audits token-budget concentration across
    corpus sources.

    Spark-first: T_g needs Σ x·ln x — each row's term is computed in
    double (identical IEEE sequence in both engines), rounded to 10dp
    and summed as DECIMAL so accumulation order cannot move the hash
    (the llmops_kl_source_divergence discipline); Σx goes through
    DECIMAL directly. One aggregation pass; the group table is bounded
    by the priority vocabulary."""
    o = t(spark, sf_dir, "orders")
    xl = o.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,4)").alias("x"),
        F.round(F.col("o_totalprice") * F.log(F.col("o_totalprice")), 10)
        .cast("decimal(28,10)")
        .alias("xlx"),
    )
    grp = xl.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("x").cast("double").alias("sum_g"),
        F.sum("xlx").cast("double").alias("sxlx_g"),
    )
    tot = grp.agg(
        F.sum("n_g").cast("bigint").alias("n"), F.sum("sum_g").cast("double").alias("s")
    )
    j = grp.crossJoin(F.broadcast(tot))
    share = F.col("sum_g") / F.col("s")
    mu_g = F.col("sum_g") / F.col("n_g")
    mu = F.col("s") / F.col("n")
    return j.select(
        "o_orderpriority",
        "n_g",
        F.round(share, 6).alias("revenue_share"),
        F.round(share * (F.col("sxlx_g") / F.col("sum_g") - F.log(mu_g)), 6).alias(
            "theil_within_term"
        ),
        F.round(share * F.log(mu_g / mu), 6).alias("theil_between_term"),
    )


@query(
    "llmops_quantile_normalize",
    oracle="""
    WITH lens AS (
      SELECT n_chars AS len, CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1
    ), grid AS (
      SELECT len,
             coalesce(sum(cnt) OVER (ORDER BY len
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
             CAST(sum(cnt) OVER () AS BIGINT) AS n
      FROM lens
    )
    SELECT d.doc_id, d.source, d.n_chars,
           round(percent_rank() OVER (PARTITION BY d.source ORDER BY d.n_chars), 6)
             AS pr_source,
           round(g.below * 1.0 / (g.n - 1), 6) AS pr_global,
           round(percent_rank() OVER (PARTITION BY d.source ORDER BY d.n_chars)
                 - g.below * 1.0 / (g.n - 1), 6) AS pr_shift
    FROM documents d JOIN grid g ON g.len = d.n_chars
    """,
)
def llmops_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization diagnostics: each document's length
    percentile WITHIN its source vs its GLOBAL percentile, and the shift
    between them — the transform (map per-source ranks onto the pooled
    distribution) that removes per-source length bias before
    length-based quality gates, and the diagnostic that shows which
    sources sit systematically long or short.

    Spark-first: the global percentile does NOT use a global rank window
    — it comes from cumulative counts over the bounded distinct-length
    grid (the llmops_score_auc idiom), broadcast-joined back onto the
    corpus; percent_rank ties resolve identically in both engines (first
    tie's rank). The only per-row window is partitioned by source. At
    100 TB: same plan, grid bounded by the length domain."""
    d = t(spark, sf_dir, "documents")
    lens = d.groupBy(F.col("n_chars").alias("len")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    gw = W.partitionBy(bounded_window_key(F.col("len"))).orderBy("len")
    grid = lens.select(
        "len",
        F.coalesce(
            F.sum("cnt").over(gw.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ).alias("below"),
        F.sum("cnt")
        .over(W.partitionBy(bounded_window_key(F.col("len"))))
        .cast("bigint")
        .alias("n"),
    )
    src_w = W.partitionBy("source").orderBy("n_chars")
    pr_src = F.percent_rank().over(src_w)
    pr_glob = F.col("below") * 1.0 / (F.col("n") - 1)
    return (
        d.join(F.broadcast(grid), d.n_chars == grid.len)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round(pr_src, 6).alias("pr_source"),
            F.round(pr_glob, 6).alias("pr_global"),
            F.round(pr_src - pr_glob, 6).alias("pr_shift"),
        )
    )


@query(
    "llmops_ngram_novelty",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, lang,
             ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 5 = 4 AS is_test,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), tri AS (
      SELECT doc_id, lang, is_test,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tg
      FROM base WHERE len(toks) >= 3
    ), train_set AS (
      SELECT DISTINCT tg FROM tri WHERE NOT is_test
    ), test_set AS (
      SELECT DISTINCT lang, tg FROM tri WHERE is_test
    )
    SELECT ts.lang,
           CAST(count(*) AS BIGINT) AS n_test_trigrams,
           CAST(sum(CASE WHEN tr.tg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(sum(CASE WHEN tr.tg IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS novelty_rate
    FROM test_set ts LEFT JOIN train_set tr ON ts.tg = tr.tg
    GROUP BY 1
    """,
)
def llmops_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out n-gram novelty: hash-split the corpus 80/20, then
    measure what fraction of each language's distinct test trigrams
    never appear in the training split — the memorization-vs-
    generalization gauge (a near-zero rate means the held-out set is
    TRAIN-CONTAMINATED at the phrase level; a high rate means the split
    really is novel text). Complements llmops_decontaminate (which asks
    the same question about an external benchmark).

    Spark-first: trigrams are built IN-ROW from the token array (an
    index-sequence transform, no explode-then-window reassembly); both
    sides reduce to DISTINCT trigram sets before the membership join, so
    the join keys are unique; the anti-membership test is a left join on
    the trigram string — at 100 TB both sides hash-partition on that key
    (or ship xxhash64 digests), the fixture-scale plan broadcasts
    nothing it shouldn't. The md5 doc split is the same idempotent
    hash-split idiom as llmops_train_val_test_split."""
    from batch_public_spark.operators.textops import tokens

    d = t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        (F.pmod(F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)), 5) == 4)
        .alias("is_test"),
        tokens(F.lower(F.col("text"))).alias("toks"),
    ).filter(F.size("toks") >= 3)
    tri = base.select(
        "lang",
        "is_test",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i),
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                ),
            )
        ).alias("tg"),
    )
    train_set = tri.filter(~F.col("is_test")).select("tg").distinct()
    test_set = tri.filter(F.col("is_test")).select("lang", "tg").distinct()
    j = test_set.join(
        train_set.withColumnRenamed("tg", "tg_train"),
        test_set.tg == F.col("tg_train"),
        "left",
    )
    return j.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_test_trigrams"),
        F.sum(F.when(F.col("tg_train").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_novel"),
        F.round(
            F.sum(F.when(F.col("tg_train").isNull(), 1).otherwise(0)) * 1.0 / F.count("*"),
            6,
        ).alias("novelty_rate"),
    )


@query(
    "agg_percentile_disc_battery",
    oracle="""
    WITH grid AS (
      SELECT o_orderpriority, o_totalprice,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1, 2
    ), cum AS (
      SELECT o_orderpriority, o_totalprice,
             sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(cnt) OVER (PARTITION BY o_orderpriority) AS tw
      FROM grid
    )
    SELECT o_orderpriority,
           min(CASE WHEN cw * 4 >= tw THEN o_totalprice END) AS p25_disc,
           min(CASE WHEN cw * 2 >= tw THEN o_totalprice END) AS p50_disc,
           min(CASE WHEN cw * 4 >= tw * 3 THEN o_totalprice END) AS p75_disc,
           min(CASE WHEN cw * 10 >= tw * 9 THEN o_totalprice END) AS p90_disc,
           CAST(max(tw) AS BIGINT) AS n
    FROM cum GROUP BY 1
    """,
)
def agg_percentile_disc_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (nearest-rank) percentiles p25/p50/p75/p90 per priority —
    the PERCENTILE_DISC semantics neither engine pair exposes
    compatibly as a builtin (Spark's percentile interpolates; engines
    also disagree on interpolation conventions), expressed engine-
    independently: the smallest value whose cumulative count reaches
    ⌈q·n⌉, tested with pure integer cross-multiplication (cw·k ≥ tw·m —
    no floating quantile math anywhere, so the selected values are
    ACTUAL data values, bit-identical by construction).

    Spark-first: the scan collapses to the (priority × distinct price)
    grid first (map-side combine), the cumulative window runs on that
    bounded grid partitioned by priority, and all four percentiles come
    from ONE conditional-min aggregation pass over it."""
    o = t(spark, sf_dir, "orders")
    grid = o.groupBy("o_orderpriority", "o_totalprice").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    byp = W.partitionBy("o_orderpriority")
    cum = grid.select(
        "o_orderpriority",
        "o_totalprice",
        F.sum("cnt")
        .over(byp.orderBy("o_totalprice").rowsBetween(W.unboundedPreceding, 0))
        .alias("cw"),
        F.sum("cnt").over(byp).alias("tw"),
    )
    pick = lambda k, m: F.min(  # noqa: E731
        F.when(F.col("cw") * k >= F.col("tw") * m, F.col("o_totalprice"))
    )
    return cum.groupBy("o_orderpriority").agg(
        pick(4, 1).alias("p25_disc"),
        pick(2, 1).alias("p50_disc"),
        pick(4, 3).alias("p75_disc"),
        pick(10, 9).alias("p90_disc"),
        F.max("tw").cast("bigint").alias("n"),
    )


@query(
    "dq_column_profile",
    oracle="""
    WITH unp AS (
      SELECT 'o_orderpriority' AS col, o_orderpriority AS val FROM orders
      UNION ALL
      SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
    ), vals AS (
      SELECT col, val, CAST(count(*) AS BIGINT) AS c FROM unp GROUP BY 1, 2
    ), tot AS (
      SELECT col,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CASE WHEN val IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_null,
             CAST(count(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct
      FROM vals GROUP BY 1
    ), ent AS (
      SELECT v.col,
             CAST(round(-(c * 1.0 / t.n) * ln(c * 1.0 / t.n), 10)
                  AS DECIMAL(24,10)) AS term
      FROM vals v JOIN tot t ON v.col = t.col
      WHERE v.val IS NOT NULL
    )
    SELECT t.col, t.n, t.n_null, t.n_distinct,
           round(t.n_distinct * 1.0 / t.n, 6) AS distinct_ratio,
           CAST(round(sum(e.term), 6) AS DOUBLE) AS shannon_entropy
    FROM tot t JOIN ent e ON e.col = t.col
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile (the Deequ/Great-Expectations profiler
    step): for each categorical column — row count, null count, distinct
    cardinality, distinct ratio, and Shannon entropy of the value
    distribution — the per-column fingerprint a quality platform stores
    per ingest to spot schema rot (entropy collapse = a column went
    constant; distinct-ratio spike = an enum became free text).

    Spark-first: the unpivot is a zero-copy stack() over one scan; all
    statistics derive from ONE (col, value) count table — no per-column
    repeated scans; entropy terms follow the round-10-decimal-sum
    discipline so accumulation order is hash-invariant. At 100 TB: same
    plan, one shuffle on (col, value) with map-side combine."""
    o = t(spark, sf_dir, "orders")
    unp = o.select(
        F.expr(
            "stack(3, 'o_orderpriority', o_orderpriority,"
            " 'o_orderstatus', o_orderstatus,"
            " 'o_custkey', CAST(o_custkey AS STRING)) AS (col, val)"
        )
    )
    vals = unp.groupBy("col", "val").agg(F.count("*").cast("bigint").alias("c"))
    tot = vals.groupBy("col").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("val").isNull(), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_null"),
        F.count(F.when(F.col("val").isNotNull(), 1)).cast("bigint").alias("n_distinct"),
    )
    p = F.col("c") * 1.0 / F.col("n")
    ent = (
        vals.filter(F.col("val").isNotNull())
        .join(F.broadcast(tot), "col")
        .select("col", F.round(-p * F.log(p), 10).cast("decimal(24,10)").alias("term"))
    )
    return (
        tot.join(ent.groupBy("col").agg(F.sum("term").alias("esum")), "col")
        .select(
            "col",
            "n",
            "n_null",
            "n_distinct",
            F.round(F.col("n_distinct") * 1.0 / F.col("n"), 6).alias("distinct_ratio"),
            F.round(F.col("esum"), 6).cast("double").alias("shannon_entropy"),
        )
    )


@query(
    "llmops_dedup_survivorship",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             md5(substr(trim(lower(text)), 1, 40)) AS cluster_key
      FROM documents
    ), clusters AS (
      SELECT cluster_key,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(min(doc_id) AS BIGINT) AS survivor_doc_id,
             CAST((min(CAST((100000 - n_chars) AS BIGINT) * 1099511627776 + doc_id))
                  % 1099511627776 AS BIGINT) AS longest_doc_id,
             CAST(CASE WHEN count(DISTINCT lang) > 1 THEN 1 ELSE 0 END AS INTEGER)
               AS lang_conflict,
             CAST(max(n_chars) AS BIGINT) AS max_chars
      FROM keyed GROUP BY 1 HAVING count(*) >= 2
    )
    SELECT cluster_key, n_members, survivor_doc_id, longest_doc_id,
           lang_conflict, max_chars
    FROM clusters
    """,
)
def llmops_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record selection: after near-dup clustering
    (here: normalized 40-char prefix keys, the llmops_prefix_dedup_groups
    blocking), pick each cluster's canonical record under two competing
    rules — deterministic first (lowest doc_id) and content-richest
    (longest text, doc_id tie-break) — and flag clusters whose members
    disagree on a field (lang): the MDM step between "these are dupes"
    and "this is the row we keep", and the conflict flag is the queue a
    human review process consumes.

    Spark-first: one aggregation over the cluster key with map-side
    combine; the argmax-by-length is encoded as a single packed-integer
    min ((100000−n_chars)·2⁴⁰ + doc_id — monotone in (-n_chars, doc_id),
    exact BIGINT, no engine-specific max_by tie behavior); shuffles
    carry 16-byte keys and scalars, never text.

    Packing domain (enforced for the fixture by
    tests/test_eval_mining_invariants.py): 0 ≤ doc_id < 2⁴⁰ (~1.1e12 —
    ample for a 100 TB corpus) so the id never bleeds into the length
    component, and 0 ≤ n_chars ≤ 100000 so the length component stays
    non-negative (DuckDB's ``%`` follows the dividend's sign, so a
    negative packed value would mis-extract). Corpora beyond either
    bound need a wider multiplier / offset, not a different algorithm."""
    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.substring(F.trim(F.lower(F.col("text"))), 1, 40)).alias("cluster_key"),
    )
    packed = (F.lit(100000) - F.col("n_chars")).cast("bigint") * (1 << 40) + F.col(
        "doc_id"
    )
    return (
        keyed.groupBy("cluster_key")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.min("doc_id").cast("bigint").alias("survivor_doc_id"),
            F.pmod(F.min(packed), F.lit(1 << 40)).cast("bigint").alias(
                "longest_doc_id"
            ),
            F.when(F.countDistinct("lang") > 1, 1).otherwise(0).cast("int").alias(
                "lang_conflict"
            ),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            "cluster_key",
            "n_members",
            "survivor_doc_id",
            "longest_doc_id",
            "lang_conflict",
            "max_chars",
        )
    )


@query(
    "llmops_sample_size_planner",
    oracle="""
    WITH baselines AS (
      SELECT * FROM (VALUES (0.05), (0.10), (0.20)) AS b(p1)
    ), mdes AS (
      SELECT * FROM (VALUES (0.05), (0.10), (0.20)) AS m(mde_rel)
    ), grid AS (
      SELECT p1, mde_rel, p1 * (1.0 + mde_rel) AS p2 FROM baselines CROSS JOIN mdes
    )
    SELECT p1, mde_rel, round(p2, 6) AS p2,
           CAST(ceil(
             (1.959964 + 0.841621) * (1.959964 + 0.841621)
             * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
             / ((p2 - p1) * (p2 - p1))
           ) AS BIGINT) AS n_per_arm,
           CAST(2 * ceil(
             (1.959964 + 0.841621) * (1.959964 + 0.841621)
             * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
             / ((p2 - p1) * (p2 - p1))
           ) AS BIGINT) AS n_total
    FROM grid
    """,
)
def llmops_sample_size_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion experiment sample-size planning table (α=0.05
    two-sided, power=0.80): for a grid of baseline conversion rates ×
    relative minimum detectable effects, the per-arm n from the standard
    normal-approximation formula — the table a team consults before
    launching the A/B tests that events_ab_uplift later reads out. The z
    constants are spelled as identical double literals in both engines
    (never an inverse-CDF call, which neither engine shares).

    Spark-first: a VALUES×VALUES grid — constant-folded, zero scans; it
    exists to pin the planning arithmetic into the verified registry
    (sample-size bugs silently undermine every experiment downstream).
    sf_dir is accepted and unused: the planner is data-free."""
    baselines = inline_rows(spark, "p1 double", [(0.05,), (0.10,), (0.20,)])
    mdes = inline_rows(spark, "mde_rel double", [(0.05,), (0.10,), (0.20,)])
    grid = baselines.crossJoin(F.broadcast(mdes)).withColumn(
        "p2", F.col("p1") * (1.0 + F.col("mde_rel"))
    )
    z = 1.959964 + 0.841621
    n_arm = F.ceil(
        z
        * z
        * (F.col("p1") * (1.0 - F.col("p1")) + F.col("p2") * (1.0 - F.col("p2")))
        / ((F.col("p2") - F.col("p1")) * (F.col("p2") - F.col("p1")))
    ).cast("bigint")
    return grid.select(
        "p1",
        "mde_rel",
        F.round("p2", 6).alias("p2"),
        n_arm.alias("n_per_arm"),
        (2 * n_arm).cast("bigint").alias("n_total"),
    )


@query(
    "events_markov_stationary",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events
    ), trans AS (
      SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), p AS (
      SELECT src, dst,
             round(c * 1.0 / sum(c) OVER (PARTITION BY src), 10) AS pr
      FROM trans
    ), states AS (
      SELECT DISTINCT src AS s FROM trans
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
    pi0 AS (
      SELECT s, round(1.0 / k, 10) AS v FROM states CROSS JOIN n
    ), pi1 AS (
      SELECT p.dst AS s, round(sum(round(pi0.v * p.pr, 10)), 10) AS v
      FROM pi0 JOIN p ON p.src = pi0.s GROUP BY 1
    ), pi2 AS (
      SELECT p.dst AS s, round(sum(round(pi1.v * p.pr, 10)), 10) AS v
      FROM pi1 JOIN p ON p.src = pi1.s GROUP BY 1
    ), pi3 AS (
      SELECT p.dst AS s, round(sum(round(pi2.v * p.pr, 10)), 10) AS v
      FROM pi2 JOIN p ON p.src = pi2.s GROUP BY 1
    )
    SELECT s AS event_type, round(v, 6) AS pi FROM pi3
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary-distribution estimate of the event-type Markov chain:
    three power-iteration steps from the uniform vector over the
    user-journey transition matrix (the same chain
    events_transition_matrix tabulates) — "where does a user's session
    settle?", the long-run occupancy that ranks states by eventual
    traffic rather than raw counts.

    Spark-first: the transition matrix is a bounded |types|² table; each
    iteration is a broadcast join + aggregation on it (the
    llmops_term_pagerank shape, but the matrix is tiny so every step
    broadcasts). Fixed-precision discipline for an iterative algorithm:
    probabilities and every per-step product/sum are rounded to 10dp in
    BOTH engines, so three iterations stay bit-identical — the same
    trick that made k-means and PageRank oracle-checkable."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count("*").cast("bigint").alias("c"))
    p = trans.select(
        "src",
        "dst",
        F.round(
            F.col("c") * 1.0 / F.sum("c").over(W.partitionBy("src")), 10
        ).alias("pr"),
    )
    states = trans.select(F.col("src").alias("s")).distinct()
    # bounded by the event-type vocabulary (plan-time scalar); `or 1`
    # is empty-input safety only (F7 contract) — with zero states the
    # frame below is empty and the literal is never observed
    k = states.count() or 1
    pi = states.select("s", F.round(F.lit(1.0 / k), 10).alias("v"))
    for _ in range(3):
        pi = (
            pi.join(F.broadcast(p), pi.s == p.src)
            .groupBy(F.col("dst").alias("s2"))
            .agg(F.round(F.sum(F.round(F.col("v") * F.col("pr"), 10)), 10).alias("v"))
            .withColumnRenamed("s2", "s")
        )
    return pi.select(F.col("s").alias("event_type"), F.round("v", 6).alias("pi"))


@query(
    "llmops_shard_file_planner",
    oracle="""
    WITH src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_bytes
      FROM documents GROUP BY 1
    )
    SELECT source, n_docs, total_bytes,
           CAST((total_bytes + 4095) // 4096 AS BIGINT) AS n_shards,
           CAST((n_docs + ((total_bytes + 4095) // 4096) - 1)
                // ((total_bytes + 4095) // 4096) AS BIGINT) AS max_rows_per_shard,
           CAST(((total_bytes + 4095) // 4096) * 4096 - total_bytes AS BIGINT)
             AS padding_bytes
    FROM src
    """,
)
def llmops_shard_file_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard planning: per source, how many ~4 KiB shards (fixture-calibrated; production targets 128-512 MB with identical arithmetic) the
    corpus needs, the row cap per shard, and the padding slack — the
    arithmetic behind `maxRecordsPerFile` / compaction target sizing
    (sources/maintenance.py) surfaced as a verified query, because a
    sizing bug silently produces the small-file problem the compactor
    exists to fix. Byte counts proxy via n_chars (the fixture's only
    size column).

    Spark-first: one aggregation to the per-source grid; all planning
    arithmetic is BIGINT ceil-division (a+b−1 div b — no float floor
    anywhere), so the plan a driver reads equals the plan the writer
    executes. At 100 TB the same query plans real byte sums from file
    metadata."""
    d = t(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_bytes"),
    )
    n_shards = F.expr("(total_bytes + 4095) div 4096")
    return src.select(
        "source",
        "n_docs",
        "total_bytes",
        n_shards.cast("bigint").alias("n_shards"),
        F.expr(
            "(n_docs + ((total_bytes + 4095) div 4096) - 1)"
            " div ((total_bytes + 4095) div 4096)"
        )
        .cast("bigint")
        .alias("max_rows_per_shard"),
        (n_shards * 4096 - F.col("total_bytes")).cast("bigint").alias("padding_bytes"),
    )


@query(
    "dq_freshness_sla",
    oracle="""
    WITH per_type AS (
      SELECT event_type,
             CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ), overall AS (
      SELECT CAST(max(max_ts_us) AS BIGINT) AS global_max_us FROM per_type
    )
    SELECT p.event_type, p.n_events,
           CAST((o.global_max_us - p.max_ts_us) // 60000000 AS BIGINT)
             AS lag_minutes,
           CAST(CASE WHEN o.global_max_us - p.max_ts_us > CAST(7200000000 AS BIGINT)
                     THEN 1 ELSE 0 END AS INTEGER) AS sla_breach
    FROM per_type p CROSS JOIN overall o
    """,
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA monitor: per event stream, how far its newest
    record lags the freshest stream, and whether that staleness breaches
    a 2-hour SLA — the "is this feed stuck?" gate every ingestion
    platform runs beside volume checks (a feed can keep its row counts
    while silently replaying old data; the lag catches it). Complements
    the ingestion-side high-water-mark (pipeline watermark filter) with
    a consumer-side view.

    Spark-first: ONE aggregation to |streams| rows (max is map-side
    combinable — the scan never shuffles raw events), the global max
    broadcast back; arithmetic is integer microseconds with integer
    division to minutes, exact in both engines. At 100 TB the same
    query reads partition-level max stats instead of scanning."""
    ev = t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).cast("bigint").alias("max_ts_us"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    overall = per_type.agg(F.max("max_ts_us").cast("bigint").alias("global_max_us"))
    lag = F.col("global_max_us") - F.col("max_ts_us")
    return per_type.crossJoin(F.broadcast(overall)).select(
        "event_type",
        "n_events",
        F.expr("(global_max_us - max_ts_us) div 60000000")
        .cast("bigint")
        .alias("lag_minutes"),
        F.when(lag > F.lit(7200000000).cast('bigint'), 1).otherwise(0).cast("int").alias("sla_breach"),
    )


def _boot_w(h: str) -> str:
    """SQL: bootstrap weight in {0, 2} from a UNIFORM 12-bit md5 slice —
    mean 1, variance 1 (matching the Poisson(1) bootstrap), the
    double-or-nothing resampling weight. ascii(first-hex-char) % 4 (the
    previous derivation) is NOT uniform over the 16 hex symbols
    (P(w)=4/16, 5/16, 7/16 → E[w]=17/16, Var≈0.56 — understated
    replicate variance and an inflated mean; r4 advice)."""
    from batch_public_spark.plans.curation_queries import _hex3

    return f"(CASE WHEN ({_hex3(h)} % 4) < 2 THEN 0 ELSE 2 END)"


_BOOT_DUCK_H = "md5(CAST(o.o_orderkey AS VARCHAR) || '-' || CAST(b.b AS VARCHAR))"
_BOOT_SPARK_H = "md5(concat_ws('-', cast(o_orderkey as string), cast(b as string)))"
_BOOT_W = _boot_w(_BOOT_DUCK_H)


@query(
    "agg_bootstrap_hash_ci",
    oracle=f"""
    WITH reps AS (
      SELECT b.b,
             {_BOOT_W} AS w,
             CAST(o.o_totalprice AS DECIMAL(18,4)) AS x
      FROM orders o CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS b) b
    ), means AS (
      SELECT b,
             round(CAST(sum(w * x) AS DOUBLE) / sum(w), 6) AS m
      FROM reps GROUP BY b HAVING sum(w) > 0
    ), ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, b) AS rk,
             count(*) OVER () AS nb
      FROM means
    )
    SELECT CAST(max(nb) AS BIGINT) AS n_replicates,
           round(CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
             AS boot_mean,
           min(CASE WHEN rk = 2 THEN m END) AS ci_lo,
           min(CASE WHEN rk = nb - 1 THEN m END) AS ci_hi
    FROM ranked
    """,
)
def agg_bootstrap_hash_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bootstrap confidence interval for mean order
    revenue: 32 resampling replicates where each row's multiplicity in
    replicate b is double-or-nothing — w ∈ {0, 2} with equal probability
    from a UNIFORM 12-bit md5 slice (mean 1, variance 1, matching the
    Poisson(1) bootstrap's weight variance; the earlier
    ascii(hex) % 4 derivation was non-uniform — E[w]=17/16, Var≈0.56 —
    which both biased the replicate means up and understated their
    spread, r4 advice). CI from the 2nd and 31st ordered replicate
    means — resampling-based uncertainty for ANY pipeline statistic
    without distributional assumptions, reproducible across runs/engines
    because the "randomness" is md5.

    Spark-first: replicates come from ONE pass — the 32-way expansion is
    an in-row sequence explode feeding a map-side-combinable (b) keyed
    aggregation, so the corpus is scanned once and the shuffle carries
    32 partial sums per partition, not 32× the data; weighted sums go
    through DECIMAL; the order statistics run over 32 rows. Replicate
    count scales the CI resolution, never the scan count."""
    from batch_public_spark.sources.tables import spread

    # spread(): the 32× replicate explode multiplies per-row compute
    # (md5 per (row, replicate)) BEFORE the first exchange, so a
    # single-split parquet scan would hash the whole expansion on one
    # core; the sums are decimal/long-exact, so parallelizing the narrow
    # stage cannot move the result. (Warm 4.4s -> sub-second at sf0.1.)
    o = spread(t(spark, sf_dir, "orders"))
    # The per-(row, replicate) md5 is the one genuinely heavy expression
    # (|orders|×32 hashes); the weight expression (identical SQL text to
    # the oracle's, via _boot_w) parses a uniform 12-bit slice of it.
    reps = (
        o.select(
            F.col("o_totalprice").cast("decimal(18,4)").alias("x"),
            F.col("o_orderkey"),
            F.explode(F.sequence(F.lit(1), F.lit(32))).alias("b"),
        )
        .select(
            "b",
            "x",
            F.expr(_boot_w(_BOOT_SPARK_H)).alias("w"),
        )
    )
    means = (
        reps.groupBy("b")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("x")).cast("double") / F.sum("w"), 6
            ).alias("m"),
            F.sum("w").alias("tw"),
        )
        .filter(F.col("tw") > 0)
        .select("b", "m")
    )
    rw = W.partitionBy(bounded_window_key(F.col("b")))
    ranked = means.select(
        "m",
        F.row_number().over(rw.orderBy("m", "b")).alias("rk"),
        F.count("*").over(rw).alias("nb"),
    )
    return ranked.agg(
        F.max("nb").cast("bigint").alias("n_replicates"),
        F.round(
            F.sum(F.col("m").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("boot_mean"),
        F.min(F.when(F.col("rk") == 2, F.col("m"))).alias("ci_lo"),
        F.min(F.when(F.col("rk") == F.col("nb") - 1, F.col("m"))).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Funnel analysis + embedding quantization error (round-6 additions)
# ---------------------------------------------------------------------------


@query(
    "events_funnel_steps",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS v_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
        AND e.ts <= v.v_ts + INTERVAL 24 HOURS
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        AND e.ts <= c.c_ts + INTERVAL 24 HOURS
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view_users,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_after,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_after
    """,
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase, each step
    strictly later and within 24 h of the previous step): how many users
    reach each stage in ORDER — the product-analytics primitive a plain
    per-type count cannot answer (a purchase before the first view must
    not convert; one a week later does not either). The step deadline is
    what makes the fixture discriminate: 150/60/25 at sf0.01 vs a
    saturated 150/150/150 unbounded.

    Spark-first: each stage is filter → per-user MIN → equi-join on
    user_id — three aggregations and two joins all keyed on user_id, so
    at scale one hash partitioning on user carries the entire funnel
    (and each stage's frame shrinks monotonically: stage N+1 joins
    against stage N's survivors only). No windows over event history, no
    per-user sequence materialization — min-timestamp chaining is
    algebraic."""
    e = t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("v_ts"))
            & (F.col("ts") <= F.col("v_ts") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.agg(F.count("*").cast("bigint").alias("n_view_users"))
        .crossJoin(
            F.broadcast(c.agg(F.count("*").cast("bigint").alias("n_click_after")))
        )
        .crossJoin(
            F.broadcast(p.agg(F.count("*").cast("bigint").alias("n_purchase_after")))
        )
    )


@query(
    "llmops_embedding_quantize_error",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vv,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x))) / 127 AS scale
      FROM embeddings
    ), d AS (
      SELECT vec_id, label, len(vv) AS dim, scale,
             unnest(vv) AS x
      FROM v WHERE scale > 0
    ), e AS (
      SELECT vec_id, label, dim,
             CAST(round(abs(x - round(x / scale) * scale), 9)
                  AS DECIMAL(18,9)) AS err
      FROM d
    ), pv AS (
      SELECT vec_id, label,
             CAST(round(CAST(sum(err) AS DOUBLE) / max(dim), 9)
                  AS DECIMAL(18,9)) AS mean_err,
             max(err) AS max_err
      FROM e GROUP BY vec_id, label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST(sum(mean_err) AS DOUBLE) / count(*), 9) AS avg_mean_err,
           round(CAST(max(max_err) AS DOUBLE), 9) AS max_abs_err
    FROM pv GROUP BY label
    """,
)
def llmops_embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization error per label: each vector scales by
    maxabs/127, rounds every dim to the nearest integer step, and the
    reconstruction error abs(x − q·scale) is reported as per-vector mean
    and corpus max — the go/no-go gauge for shipping an ANN index (or a
    100 TB embedding store) at a quarter of the float32 footprint.

    Spark-first: the scale is an in-row array reduction (no pass over the
    corpus to fit anything — symmetric per-vector quantization is what
    makes the decision embarrassingly parallel); per-dim errors round at
    1e-9 into DECIMAL before every cross-row sum, so the two-level mean
    is partitioning-independent; max is order-free by nature. The only
    shuffles are the per-vector and per-label aggregations.

    Robustness: the degenerate-vector guard is on the DERIVED divisor
    (``scale > 0``), not on ``maxabs > 0`` — for a vector whose largest
    |x| is subnormal (< 127 × 4.9e-324) the division ``maxabs / 127``
    underflows to exactly 0.0 even though maxabs passes a ``> 0`` test,
    and the later ``x / scale`` would raise DIVIDE_BY_ZERO under ANSI
    mode. One garbage vector in a 100 TB corpus must not kill the job."""
    v = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vv")
    )
    v = v.withColumn(
        "scale", F.array_max(F.transform("vv", lambda x: F.abs(x))) / 127
    ).filter(F.col("scale") > 0)
    d = v.select(
        "vec_id",
        "label",
        F.size("vv").alias("dim"),
        "scale",
        F.explode("vv").alias("x"),
    )
    err = F.round(
        F.abs(F.col("x") - F.round(F.col("x") / F.col("scale"), 0) * F.col("scale")),
        9,
    ).cast("decimal(18,9)")
    pv = (
        d.select("vec_id", "label", "dim", err.alias("err"))
        .groupBy("vec_id", "label")
        .agg(
            F.round(F.sum("err").cast("double") / F.max("dim"), 9)
            .cast("decimal(18,9)")
            .alias("mean_err"),
            F.max("err").alias("max_err"),
        )
    )
    return pv.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.round(F.sum("mean_err").cast("double") / F.count("*"), 9).alias(
            "avg_mean_err"
        ),
        F.round(F.max("max_err").cast("double"), 9).alias("max_abs_err"),
    )


@query(
    "events_bounce_rate_daily",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 6 HOURS THEN 1 ELSE 0 END
               AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ), sess AS (
      SELECT user_id, sid, count(*) AS n, min(ts) AS start_ts
      FROM s GROUP BY user_id, sid
    )
    SELECT strftime(date_trunc('day', start_ts), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS bounce_rate
    FROM sess GROUP BY 1
    """,
)
def events_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: gap-sessionize each user's stream (6 h idle gap
    — 58% single-event sessions at sf0.01, a discriminating fixture
    value) and report, per session-start day, how many sessions ended
    after a single event — the engagement KPI bolted on top of the same
    gaps-and-islands core as events_sessionize_gap and the streaming
    session windows.

    Spark-first: both windows (lag for boundaries, running sum for the
    island id) ride ONE shuffle partitioned by user_id; the session
    rollup keys on (user_id, sid) — a prefix of the same partitioning —
    and only the per-day KPI aggregation reshuffles, on ~|days| rows.
    Both windows order by (ts, event_id) — same tiebreak as
    events_sessionize_gap — so the running sum is deterministic even if
    two events share (user_id, ts)."""
    e = t(spark, sf_dir, "events")
    uw = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(uw).isNull()
            | (F.col("ts") > F.lag("ts").over(uw) + F.expr("INTERVAL 6 HOURS")),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    s = o.select(
        "user_id",
        "ts",
        F.sum("new_s")
        .over(uw.rowsBetween(W.unboundedPreceding, 0))
        .alias("sid"),
    )
    sess = s.groupBy("user_id", "sid").agg(
        F.count("*").alias("n"), F.min("ts").alias("start_ts")
    )
    bounce = F.col("n") == 1
    return sess.groupBy(
        F.date_format(F.date_trunc("day", "start_ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum(F.when(bounce, 1).otherwise(0)).cast("bigint").alias("n_bounces"),
        F.round(
            F.sum(F.when(bounce, 1).otherwise(0)) / F.count("*").cast("double"), 6
        ).alias("bounce_rate"),
    )


@query(
    "llmops_embedding_centroid_drift",
    oracle="""
    WITH v AS (
      SELECT label,
             ascii(substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) % 2 AS half,
             CAST(embedding AS DOUBLE[]) AS vv
      FROM embeddings
    ), dims AS (
      SELECT label, half, pos, round(avg(x), 6) AS m FROM (
        SELECT label, half, unnest(generate_series(1, len(vv))) AS pos,
               unnest(vv) AS x
        FROM v
      ) GROUP BY label, half, pos
    ), diff AS (
      SELECT a.label, a.pos,
             CAST(round((a.m - b.m) * (a.m - b.m), 12) AS DECIMAL(28,12)) AS d2,
             CAST(round(abs(a.m - b.m), 6) AS DECIMAL(18,6)) AS ad
      FROM dims a JOIN dims b ON a.label = b.label AND a.pos = b.pos
      WHERE a.half = 0 AND b.half = 1
    ), counts AS (
      SELECT label,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM v GROUP BY label
    )
    SELECT d.label, c.n_a, c.n_b,
           round(sqrt(CAST(sum(d.d2) AS DOUBLE)), 6) AS centroid_l2,
           round(CAST(max(d.ad) AS DOUBLE), 6) AS max_dim_shift
    FROM diff d JOIN counts c ON d.label = c.label
    GROUP BY d.label, c.n_a, c.n_b
    """,
)
def llmops_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift between two deterministic halves
    of the corpus (md5 split): L2 distance between the halves' per-label
    mean vectors plus the worst single-dimension shift — the
    vector-store drift monitor run before trusting an ANN index built on
    yesterday's embedding distribution with today's data (a near-zero
    drift on a random split like this one is the healthy baseline; the
    same query pointed at two time windows is the production alarm).

    Spark-first: per-(label, half, dim) means via one posexplode +
    map-side-combined aggregation; the halves join on (label, pos) —
    k×dim rows — and everything after is decimal-exact (per-dim means
    rounded at 1e-6, squared diffs at 1e-12 into DECIMAL sums) so the
    L2 is partitioning-independent. The embedding dim is derived from
    the vectors in BOTH engines (posexplode / zipped unnest)."""
    v = t(spark, sf_dir, "embeddings").select(
        "label",
        F.pmod(F.ascii(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)), 2).alias(
            "half"
        ),
        F.col("embedding").cast("array<double>").alias("vv"),
    ).transform(cut)  # feeds the dim means AND the half counts
    dims = (
        v.select("label", "half", F.posexplode("vv").alias("pos0", "x"))
        .groupBy("label", "half", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .transform(cut)  # both join sides filter this frame
    )
    a = dims.filter(F.col("half") == 0).select("label", "pos", F.col("m").alias("ma"))
    b = dims.filter(F.col("half") == 1).select("label", "pos", F.col("m").alias("mb"))
    diff = a.join(b, ["label", "pos"]).select(
        "label",
        F.round((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")), 12)
        .cast("decimal(28,12)")
        .alias("d2"),
        F.round(F.abs(F.col("ma") - F.col("mb")), 6).cast("decimal(18,6)").alias("ad"),
    )
    counts = v.groupBy("label").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
    )
    return (
        diff.groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum("d2").cast("double")), 6).alias("centroid_l2"),
            F.round(F.max("ad").cast("double"), 6).alias("max_dim_shift"),
        )
        .join(F.broadcast(counts), "label")
        .select("label", "n_a", "n_b", "centroid_l2", "max_dim_shift")
    )


@query(
    "events_interarrival_histogram",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             (epoch_us(ts) - epoch_us(lag(ts) OVER
               (PARTITION BY user_id, event_type ORDER BY ts, event_id)))
               // 1000000 AS gap_s
      FROM events
    ), labeled AS (
      SELECT event_type,
             CASE WHEN gap_s < 60 THEN '0_lt_1m'
                  WHEN gap_s < 300 THEN '1_lt_5m'
                  WHEN gap_s < 3600 THEN '2_lt_1h'
                  WHEN gap_s < 21600 THEN '3_lt_6h'
                  WHEN gap_s < 86400 THEN '4_lt_24h'
                  ELSE '5_ge_24h' END AS bucket
      FROM gaps WHERE gap_s IS NOT NULL
    ), counts AS (
      SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
      FROM labeled GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS t FROM counts GROUP BY 1
    )
    SELECT c.event_type, c.bucket, c.n,
           round(c.n * 1.0 / t.t, 6) AS share
    FROM counts c JOIN tot t ON c.event_type = t.event_type
    """,
)
def events_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type: the gap between a
    user's consecutive events of the same type, bucketed on a fixed time
    ladder — the first thing capacity planning and anomaly thresholds
    (rate spike, CUSUM) are calibrated against, and the empirical answer
    to "is 6 h the right sessionization gap" (see
    events_bounce_rate_daily).

    Spark-first: one lag window per (user, type) — the same partitioning
    the sessionizers use — then integer-µs gaps bucketed by a CASE
    ladder (exact integer boundaries, no float log) and two stacked
    map-side-combined aggregations; the per-type totals join back onto
    ~|types|×|buckets| rows. Bucket labels carry a sort prefix so the
    result reads in time order without relying on engine collation."""
    e = t(spark, sf_dir, "events")
    uw = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_s = F.expr("(unix_micros(ts) - unix_micros(prev_ts)) div 1000000")
    labeled = (
        e.select("event_type", "ts", "event_id", F.lag("ts").over(uw).alias("prev_ts"))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "event_type",
            F.when(gap_s < 60, "0_lt_1m")
            .when(gap_s < 300, "1_lt_5m")
            .when(gap_s < 3600, "2_lt_1h")
            .when(gap_s < 21600, "3_lt_6h")
            .when(gap_s < 86400, "4_lt_24h")
            .otherwise("5_ge_24h")
            .alias("bucket"),
        )
    )
    counts = labeled.groupBy("event_type", "bucket").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = counts.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("t"))
    return (
        counts.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "bucket",
            "n",
            F.round(F.col("n") / F.col("t").cast("double"), 6).alias("share"),
        )
    )


@query(
    "llmops_rater_agreement_kappa",
    oracle=r"""
    WITH m AS (
      SELECT lang,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                             x -> length(x) > 0)) AS n_tok,
             len(list_filter(list_filter(string_split_regex(trim(text), '\s+'),
                                         x -> length(x) > 0),
                 x -> lower(x) IN ('the','a','an','of','to','and','in','is','it','for')))
               AS n_sw
      FROM documents
    ), r AS (
      SELECT lang,
             CASE WHEN n_tok >= 53 THEN 1 ELSE 0 END AS a,
             CASE WHEN n_sw * 50 >= n_tok * 3 THEN 1 ELSE 0 END AS b
      FROM m
    ), c AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a * b) AS BIGINT) AS n11,
             CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
             CAST(sum((1 - a) * b) AS BIGINT) AS n01,
             CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM r GROUP BY lang
    )
    SELECT lang, n,
           round((n11 + n00) * 1.0 / n, 6) AS po,
           round(((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                 + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n), 6) AS pe,
           round(CASE WHEN 1.0 - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                              + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)) > 0
                 THEN ((n11 + n00) * 1.0 / n
                       - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                          + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)))
                      / (1.0 - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                                + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)))
                 END, 6) AS kappa
    FROM c
    """,
)
def llmops_rater_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two automatic quality raters, per language:
    rater A gates on document length (n_tok >= 53, the fixture median),
    rater B on stopword ratio (>= 0.06, compared as the integer
    cross-multiplication n_sw·50 >= n_tok·3 so the boundary is exact in
    both engines) — the chance-corrected agreement statistic that tells a
    curation team whether two quality filters are interchangeable (kappa
    near 1), complementary (near 0), or contradictory (negative). The
    fixture thresholds sit at the medians so both marginals are ~50/50 —
    maximally discriminating for the chance-correction arithmetic.

    Spark-first: one scan projecting two integer gate columns, one
    aggregation to the per-lang 2×2 confusion counts (n11/n10/n01/n00 as
    exact BIGINT), and the po/pe/kappa floats derive from those counts
    with an identical expression tree in both engines, rounded at 6.
    Kappa is NULL when 1 − pe underflows to non-positive (one rater
    constant within a language) — the derived-divisor guard discipline."""
    d = t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    stop = ("the", "a", "an", "of", "to", "and", "in", "is", "it", "for")
    n_tok = F.size(toks)
    n_sw = F.size(F.filter(toks, lambda x: F.lower(x).isin(*stop)))
    r = d.select(
        "lang",
        F.when(n_tok >= 53, 1).otherwise(0).alias("a"),
        F.when(n_sw * 50 >= n_tok * 3, 1).otherwise(0).alias("b"),
    )
    c = r.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) * 1.0 / n
    pa1 = (F.col("n11") + F.col("n10")) * 1.0 / n
    pb1 = (F.col("n11") + F.col("n01")) * 1.0 / n
    pa0 = (F.col("n01") + F.col("n00")) * 1.0 / n
    pb0 = (F.col("n10") + F.col("n00")) * 1.0 / n
    pe = pa1 * pb1 + pa0 * pb0
    return c.select(
        "lang",
        "n",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(F.when(1.0 - pe > 0, (po - pe) / (1.0 - pe)), 6).alias("kappa"),
    )


@query(
    "llmops_mojibake_detect",
    oracle="""
    WITH corrupted AS (
      -- Deterministic in-query corruption (the fixture is clean ASCII, so
      -- detection over the raw text would be vacuously all-zero — same
      -- synthesis pattern as dq_snapshot_diff_classify): every 11th doc
      -- gets a UTF-8-as-Latin-1 mojibake marker spliced in, every 13th a
      -- U+FFFD replacement char (doc_id % 143 == 0 gets both).
      SELECT doc_id, source,
             concat(
               CASE WHEN doc_id % 11 = 0
                    THEN concat(substr(text, 1, 10), 'Ã©') ELSE substr(text, 1, 10) END,
               CASE WHEN doc_id % 13 = 0
                    THEN concat('' || chr(65533), substr(text, 11)) ELSE substr(text, 11) END
             ) AS text
      FROM documents
    ), flags AS (
      SELECT source,
             CASE WHEN position('Ã©' IN text) > 0 THEN 1 ELSE 0 END AS has_moji,
             CASE WHEN position(chr(65533) IN text) > 0 THEN 1 ELSE 0 END AS has_repl
      FROM corrupted
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(has_moji) AS BIGINT) AS n_mojibake,
           CAST(sum(has_repl) AS BIGINT) AS n_replacement,
           round(1.0 - sum(CASE WHEN has_moji = 1 OR has_repl = 1 THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS clean_ratio
    FROM flags GROUP BY source
    """,
)
def llmops_mojibake_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage gate for web-scraped corpora: per source, how many
    documents carry UTF-8-bytes-decoded-as-Latin-1 mojibake ('Ã©' — the
    signature of é round-tripped through the wrong codec) or a U+FFFD
    replacement character (lossy decode already happened upstream). Both
    are cheap, high-precision markers a 100 TB ingest applies before any
    model-based quality scoring; a source whose clean_ratio drops is a
    scraper that changed its charset handling.

    The fixture corpus is clean ASCII, so the query SYNTHESIZES the damage
    deterministically in-query (doc_id % 11 / % 13 splice points, identical
    expressions in both engines) and then detects it — attesting the
    detector end-to-end instead of hashing twenty zeros (the r7
    vacuous-fixture audit class).

    Spark-first: substring splice + literal-substring containment are all
    whole-stage-codegen JVM expressions over one scan; the aggregation is
    a plain per-source hash agg. No regex engines involved — literal
    ``contains`` has identical semantics everywhere, so parity is by
    construction."""
    d = t(spark, sf_dir, "documents")
    moji = F.lit("Ã©")  # 'Ã©'
    repl = F.lit("�")
    corrupted = d.select(
        "source",
        F.concat(
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.substring("text", 1, 10), moji),
            ).otherwise(F.substring("text", 1, 10)),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(repl, F.expr("substring(text, 11)")),
            ).otherwise(F.expr("substring(text, 11)")),
        ).alias("text"),
    )
    has_moji = F.when(F.instr("text", "Ã©") > 0, 1).otherwise(0)
    has_repl = F.when(F.instr("text", "�") > 0, 1).otherwise(0)
    return corrupted.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(has_moji).cast("bigint").alias("n_mojibake"),
        F.sum(has_repl).cast("bigint").alias("n_replacement"),
        F.round(
            1.0
            - F.sum(
                F.when((has_moji == 1) | (has_repl == 1), 1).otherwise(0)
            ).cast("double")
            / F.count("*"),
            6,
        ).alias("clean_ratio"),
    )


@query(
    "llmops_readability_score",
    oracle="""
    WITH words AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS w
      FROM documents
    ), per_word AS (
      SELECT doc_id, source,
             greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))) AS syl
      FROM words
    ), per_doc AS (
      SELECT doc_id, source,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(syl) AS BIGINT) AS n_syl
      FROM per_word GROUP BY 1, 2
    ), scored AS (
      SELECT source, n_words, n_syl,
             CAST(round(206.835 - 1.015 * n_words
                        - 84.6 * (n_syl * 1.0 / n_words), 10)
                  AS DECIMAL(24,10)) AS flesch
      FROM per_doc
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           round(sum(n_syl) * 1.0 / sum(n_words), 6) AS syl_per_word,
           CAST(round(round(sum(flesch), 10) / count(*), 6) AS DOUBLE)
             AS avg_flesch
    FROM scored GROUP BY source
    """,
)
def llmops_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-reading-ease quality proxy per source, with the classic
    vowel-group syllable heuristic (syllables(word) ≈ max(1, runs of
    [aeiouy])): readability is one of the cheap prefilter features
    curation pipelines score BEFORE any model-based classifier — a source
    whose reading-ease collapses is boilerplate/code/gibberish, one whose
    score spikes is trivial text. The fixture has no sentence punctuation
    (r7 vacuous-fixture audit), so each document is scored as ONE sentence
    — words-per-sentence = word count — which keeps every term of the
    formula active and non-constant across docs.

    Spark-first: tokenize once, count vowel runs with the built-in
    regexp_extract_all (JVM regex, whole-stage codegen — [aeiouy]+ has
    identical semantics in RE2/ICU/Java, no engine divergence for pure
    character classes), reduce to exact per-doc integer counts, and keep
    the only float (the per-doc Flesch value) order-invariant by rounding
    to 10dp and summing as DECIMAL. Per-word work pipelines inside the
    scan stage; the shuffle carries (doc_id, ints) only."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        "source",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("w"),
    )
    per_word = words.select(
        "doc_id",
        "source",
        F.greatest(
            F.lit(1), F.size(F.regexp_extract_all("w", F.lit("[aeiouy]+"), 0))
        ).alias("syl"),
    )
    per_doc = per_word.groupBy("doc_id", "source").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("syl").cast("bigint").alias("n_syl"),
    )
    flesch = F.round(
        206.835
        - 1.015 * F.col("n_words")
        - 84.6 * (F.col("n_syl") * 1.0 / F.col("n_words")),
        10,
    ).cast("decimal(24,10)")
    return per_doc.select("source", "n_words", "n_syl", flesch.alias("flesch")).groupBy(
        "source"
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.round(F.sum("n_syl") * 1.0 / F.sum("n_words"), 6).alias("syl_per_word"),
        (F.round(F.sum("flesch"), 10) / F.count("*"))
        .cast("double")
        .alias("_avg_raw"),
    ).select(
        "source",
        "n_docs",
        "total_words",
        "syl_per_word",
        F.round("_avg_raw", 6).alias("avg_flesch"),
    )


@query(
    "agg_ols_two_feature",
    oracle="""
    WITH s AS (
      SELECT l_returnflag AS flag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx1,
             CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS sx2,
             CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx1x1,
             CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)
                      * CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS sx2x2,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS sx1x2,
             CAST(sum(CAST(l_quantity AS BIGINT)
                      * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sx1y,
             CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)
                      * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sx2y
      FROM lineitem GROUP BY 1
    ), m AS (
      SELECT flag, n, sx1, sx2, sy,
             n * 1.0 * sx1x1 - sx1 * 1.0 * sx1 AS m11,
             n * 1.0 * sx1x2 - sx1 * 1.0 * sx2 AS m12,
             n * 1.0 * sx2x2 - sx2 * 1.0 * sx2 AS m22,
             n * 1.0 * sx1y - sx1 * 1.0 * sy AS v1,
             n * 1.0 * sx2y - sx2 * 1.0 * sy AS v2
      FROM s
    ), sol AS (
      SELECT flag, n, sx1, sx2, sy,
             m11 * m22 - m12 * m12 AS det, m11, m12, m22, v1, v2
      FROM m
    )
    SELECT flag, n,
           CASE WHEN det > 0
                THEN round((m22 * v1 - m12 * v2) / det, 6) END AS b_qty,
           CASE WHEN det > 0
                THEN round((m11 * v2 - m12 * v1) / det, 6) END AS b_disc,
           CASE WHEN det > 0
                THEN round((sy - (m22 * v1 - m12 * v2) / det * sx1
                               - (m11 * v2 - m12 * v1) / det * sx2) * 1.0 / n, 6)
           END AS intercept_cents
    FROM sol
    """,
)
def agg_ols_two_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ordinary least squares by closed-form normal equations,
    per returnflag group: fit price_cents ~ b_qty·quantity +
    b_disc·discount_pct + intercept. The multivariate extension of
    agg_regr_price_qty (Spark's regr_* builtins stop at one regressor):
    with centered cross-moment matrix M = n·Sxx − Sx·Sxᵀ and V = n·Sxy −
    Sx·Sy, the 2×2 system solves by Cramer's rule — b = (M22·V1 −
    M12·V2)/det, det = M11·M22 − M12², singular (collinear) groups yield
    NULL via the det > 0 guard (det ≥ 0 by Cauchy-Schwarz).

    Parity discipline: all nine sufficient statistics are EXACT integer
    sums (quantity integral, discount and price through rounded
    percent/cents), aggregated as BIGINT in both engines; the moment
    matrix then evaluates the identical double expression tree (n·Sxy
    exceeds 2^53 at sf0.1 — the double rounding is identical IEEE ops in
    both engines, which is the parity contract; the STATISTICAL precision
    loss is the textbook one-pass-normal-equations tradeoff, noted here
    deliberately: at 100 TB you'd keep these sums as DECIMAL(38,0) and
    convert once, same plan).

    Spark-first: one map-side partial aggregation — the whole regression
    is 9 sums + driver-free scalar algebra on a |groups|-row table; no
    second pass, no gradient iterations, no collect."""
    li = t(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity").cast("bigint")
    x2 = F.round(F.col("l_discount") * 100, 0).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    s = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x1).cast("bigint").alias("sx1"),
        F.sum(x2).cast("bigint").alias("sx2"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x1 * x1).cast("bigint").alias("sx1x1"),
        F.sum(x2 * x2).cast("bigint").alias("sx2x2"),
        F.sum(x1 * x2).cast("bigint").alias("sx1x2"),
        F.sum(x1 * y).cast("bigint").alias("sx1y"),
        F.sum(x2 * y).cast("bigint").alias("sx2y"),
    )
    one = F.lit(1.0)
    m = s.select(
        "flag",
        "n",
        "sx1",
        "sx2",
        "sy",
        (F.col("n") * one * F.col("sx1x1") - F.col("sx1") * one * F.col("sx1")).alias("m11"),
        (F.col("n") * one * F.col("sx1x2") - F.col("sx1") * one * F.col("sx2")).alias("m12"),
        (F.col("n") * one * F.col("sx2x2") - F.col("sx2") * one * F.col("sx2")).alias("m22"),
        (F.col("n") * one * F.col("sx1y") - F.col("sx1") * one * F.col("sy")).alias("v1"),
        (F.col("n") * one * F.col("sx2y") - F.col("sx2") * one * F.col("sy")).alias("v2"),
    )
    sol = m.withColumn("det", F.col("m11") * F.col("m22") - F.col("m12") * F.col("m12"))
    b1 = (F.col("m22") * F.col("v1") - F.col("m12") * F.col("v2")) / F.col("det")
    b2 = (F.col("m11") * F.col("v2") - F.col("m12") * F.col("v1")) / F.col("det")
    ok = F.col("det") > 0
    return sol.select(
        "flag",
        "n",
        F.when(ok, F.round(b1, 6)).alias("b_qty"),
        F.when(ok, F.round(b2, 6)).alias("b_disc"),
        F.when(
            ok,
            F.round(
                (F.col("sy") - b1 * F.col("sx1") - b2 * F.col("sx2")) * one / F.col("n"),
                6,
            ),
        ).alias("intercept_cents"),
    )


@query(
    "agg_theil_sen_slope",
    oracle="""
    WITH monthly AS (
      SELECT o_orderpriority AS prio,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ), slopes AS (
      SELECT a.prio,
             (b.cents - a.cents) * 1.0 / (b.m - a.m) AS slope
      FROM monthly a JOIN monthly b ON a.prio = b.prio AND a.m < b.m
    ), fit AS (
      SELECT prio, CAST(count(*) AS BIGINT) AS n_pairs,
             median(slope) AS slope
      FROM slopes GROUP BY prio
    )
    SELECT f.prio, f.n_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM monthly m
             WHERE m.prio = f.prio) AS n_months,
           round(f.slope, 6) AS sen_slope,
           round(median(mo.cents - f.slope * mo.m), 2) AS sen_intercept
    FROM fit f JOIN monthly mo ON mo.prio = f.prio
    GROUP BY f.prio, f.n_pairs, f.slope
    """,
)
def agg_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator per order priority: the slope is
    the MEDIAN of all pairwise slopes of the monthly-revenue series and
    the intercept the median residual under that slope — the classic
    29.3%-breakdown-point alternative to OLS (agg_ols_two_feature) whose
    fit one wild month cannot move. The pairwise step is stats_queries'
    _month_pairs, quadratic only in the month-grid size.

    Parity discipline: monthly revenue is exact BIGINT cents and the
    month key an exact integer index (year·12+month), so every pairwise
    slope is the identical double division in both engines; the medians
    interpolate identical multisets. Both median arguments route through
    the same rounded-at-emission-only rule.

    Spark-first: one shuffle for the monthly rollup (_monthly_cents);
    the pair join and both medians run on the tiny grid. The heavy scan
    is touched once; at 100 TB the grid is still 80×5 rows."""
    from batch_public_spark.plans.stats_queries import _month_pairs, _monthly_cents

    monthly = _monthly_cents(spark, sf_dir)
    slopes = _month_pairs(monthly).select(
        "prio",
        ((F.col("c2") - F.col("c1")) * F.lit(1.0) / (F.col("m2") - F.col("m1"))).alias("slope"),
    )
    fit = slopes.groupBy("prio").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.median("slope").alias("slope"),
    )
    months = monthly.groupBy("prio").agg(
        F.count("*").cast("bigint").alias("n_months")
    )
    return (
        monthly.join(F.broadcast(fit), "prio")
        .groupBy("prio", "n_pairs", "slope")
        .agg(
            # round-2, not round-6: the intercept's magnitude is the cents
            # scale (~6e10 at sf0.1), where one double ulp is ~8e-6 — a
            # 6-decimal rounding sits BELOW the engines' median-
            # interpolation divergence and hash-flapped at sf0.1 (r9
            # stress sweep); 2 decimals leaves a ~100x stability margin
            # while staying exact at the measure's own (cents) grain.
            F.round(
                F.median(F.col("cents") - F.col("slope") * F.col("m")), 2
            ).alias("sen_intercept")
        )
        .join(F.broadcast(months), "prio")
        .select(
            "prio",
            "n_pairs",
            "n_months",
            F.round("slope", 6).alias("sen_slope"),
            "sen_intercept",
        )
    )


@query(
    "udaf_trimmed_mean_price",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS prio,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS r,
             CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
      FROM orders
    )
    SELECT prio,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(max(n) - 2 * (max(n) // 10) AS BIGINT) AS n_kept,
           round(sum(CASE WHEN r > n // 10 AND r <= n - n // 10
                          THEN cents END) * 1.0
                 / (max(n) - 2 * (max(n) // 10)), 6) AS trimmed_mean_cents
    FROM v GROUP BY prio
    """,
)
def udaf_trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed mean as a pandas GROUPED_AGG UDAF — the second
    Arrow-batched UDAF exemplar beside udaf_grouped_median_quantity,
    chosen because trimming (drop the ⌊n/10⌋ smallest and largest, mean
    the rest) is NOT a Spark builtin, so the UDAF earns its place rather
    than shadowing an existing aggregate. The kernel sorts cents inside
    the Arrow batch and means an exact integer slice; the oracle ranks
    with a window and averages the same slice — equal values are
    interchangeable under trimming, so the value-order tie-break can't
    change the sum.

    Parity discipline: prices go through rounded cents (BIGINT), the
    kept-count arithmetic is pure integer, and the single division is the
    identical double expression. The UDAF returns the exact integer SUM
    of the kept slice (numpy int64), with count arithmetic and the final
    division done JVM-side — no float crosses the Arrow boundary.

    Spark-first: GROUPED_AGG ships each group's column as ONE Arrow
    array — no per-row Python. At 100 TB a 10%-trim of a giant group
    wants the two-pass quantile prefilter instead; this exemplar pins the
    Arrow UDAF contract on grouped-fits-in-memory data (the
    groupwise-zscore note in analytics_queries applies verbatim)."""
    from pyspark.sql.functions import pandas_udf

    # pandas must be importable at MODULE level: with postponed annotations
    # the GROUPED_AGG signature (pd.Series -> int) is eval'd against module
    # globals, and an unresolvable hint degrades to an unsupported string.
    @pandas_udf("long")
    def trimmed_sum(cents: pd.Series) -> int:
        s = cents.sort_values(ignore_index=True)
        k = len(s) // 10
        kept = s.iloc[k : len(s) - k] if k else s
        return int(kept.sum())

    # GROUPED_AGG UDFs can't mix with JVM aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT) — count is a pandas UDAF too, as in
    # udaf_grouped_median_quantity.
    @pandas_udf("long")
    def cnt(cents: pd.Series) -> int:
        return int(len(cents))

    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    g = o.groupBy("prio").agg(
        cnt("cents").alias("n_orders"),
        trimmed_sum("cents").alias("kept_sum"),
    )
    n_kept = F.col("n_orders") - 2 * F.expr("n_orders DIV 10")
    return g.select(
        "prio",
        "n_orders",
        n_kept.cast("bigint").alias("n_kept"),
        F.round(F.col("kept_sum") * F.lit(1.0) / n_kept, 6).alias(
            "trimmed_mean_cents"
        ),
    )


@query(
    "agg_ratio_delta_method_ci",
    oracle="""
    WITH per_cust AS (
      SELECT o_orderpriority AS priority, o_custkey,
             CAST(sum(CAST(o_totalprice * 100 AS DECIMAL(18, 0))) AS BIGINT)
               AS x_cents,
             CAST(count(*) AS BIGINT) AS y_orders
      FROM orders GROUP BY 1, 2
    ), moments AS (
      SELECT priority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x_cents) AS BIGINT) AS sx,
             CAST(sum(y_orders) AS BIGINT) AS sy,
             CAST(sum(x_cents * x_cents) AS DOUBLE) AS sxx,
             CAST(sum(y_orders * y_orders) AS DOUBLE) AS syy,
             CAST(sum(x_cents * y_orders) AS DOUBLE) AS sxy
      FROM per_cust GROUP BY priority
    ), est AS (
      SELECT priority, n, sx, sy,
             sx * 1.0e0 / sy AS r,
             ((sxx - sx * 1.0e0 / n * sx) / (n - 1)
              - 2 * (sx * 1.0e0 / sy)
                  * ((sxy - sx * 1.0e0 / n * sy) / (n - 1))
              + (sx * 1.0e0 / sy) * (sx * 1.0e0 / sy)
                  * ((syy - sy * 1.0e0 / n * sy) / (n - 1)))
             / (n * (sy * 1.0e0 / n) * (sy * 1.0e0 / n)) AS var_r
      FROM moments
    )
    SELECT priority, n AS n_customers,
           round(r, 6) AS ratio_cents_per_order,
           round(sqrt(var_r), 6) AS se,
           round(r - 1.96e0 * sqrt(var_r), 6) AS ci_lo,
           round(r + 1.96e0 * sqrt(var_r), 6) AS ci_hi
    FROM est
    """,
)
def agg_ratio_delta_method_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric (revenue cents
    per order, clustered by customer) per order priority — the
    experimentation primitive behind every revenue-per-X readout: the
    naive per-order variance is wrong because orders cluster within
    customers, so the unit of analysis is the customer and the ratio of
    means R = Σx/Σy gets its variance from the delta method,
    Var(R) ≈ (s_x² − 2R·s_xy + R²·s_y²) / (n·ȳ²) (Deng et al. 2017's
    ratio-metric formula). The stats family so far tests differences
    (Welch, Mann-Whitney) and resamples generic statistics
    (agg_bootstrap_hash_ci) — this is the closed-form interval for the
    clustered ratio estimator, the one metric shape the bootstrap's
    per-row replicates get WRONG unless they resample whole customers.

    Parity discipline: per-customer revenue goes to exact integer cents
    (decimal multiply before the cast — the cents discipline); linear
    moment sums are exact BIGINTs; the QUADRATIC moments accumulate
    exactly as decimals/hugeints — sum(x²) exceeds BIGINT at sf0.1
    (found by the r9 full-SF stress sweep) — and convert to double ONCE;
    variance/SE/CI are one shared-spelling float expression on those
    sums, rounded at emission (the OLS normal-equations discipline).

    Spark-first: per-customer rollup is ONE map-side-combinable shuffle
    on (priority, custkey); the moment aggregation is 5 rows; nothing
    downstream touches the fact table again. At 100 TB this is the
    standard two-level clustered-metric plan."""
    o = t(spark, sf_dir, "orders")
    per = o.groupBy(
        F.col("o_orderpriority").alias("priority"), "o_custkey"
    ).agg(
        F.sum((F.col("o_totalprice") * 100).cast("decimal(18,0)"))
        .cast("bigint")
        .alias("x_cents"),
        F.count("*").cast("bigint").alias("y_orders"),
    )
    m = per.groupBy("priority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x_cents").cast("bigint").alias("sx"),
        F.sum("y_orders").cast("bigint").alias("sy"),
        # Quadratic moments accumulate EXACTLY as decimals (x² sums blow
        # past BIGINT at sf0.1 — DuckDB's hugeint cast threw, Spark's
        # bigint sum would silently wrap), then ONE deterministic cast to
        # double feeds the shared variance expression. Caught by the r9
        # sf0.1 stress sweep.
        F.sum(F.col("x_cents").cast("decimal(38,0)") * F.col("x_cents"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("y_orders").cast("decimal(38,0)") * F.col("y_orders"))
        .cast("double")
        .alias("syy"),
        F.sum(F.col("x_cents").cast("decimal(38,0)") * F.col("y_orders"))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    r = sx * F.lit(1.0) / sy
    sxx_c = (F.col("sxx") - sx * F.lit(1.0) / n * sx) / (n - 1)
    sxy_c = (F.col("sxy") - sx * F.lit(1.0) / n * sy) / (n - 1)
    syy_c = (F.col("syy") - sy * F.lit(1.0) / n * sy) / (n - 1)
    var_r = (sxx_c - F.lit(2) * r * sxy_c + r * r * syy_c) / (
        n * (sy * F.lit(1.0) / n) * (sy * F.lit(1.0) / n)
    )
    return m.select(
        "priority",
        n.alias("n_customers"),
        F.round(r, 6).alias("ratio_cents_per_order"),
        F.round(F.sqrt(var_r), 6).alias("se"),
        F.round(r - F.lit(1.96) * F.sqrt(var_r), 6).alias("ci_lo"),
        F.round(r + F.lit(1.96) * F.sqrt(var_r), 6).alias("ci_hi"),
    )


def _conformal_rank() -> Column:
    """The finite-sample split-conformal rank ⌈0.9·(n+1)⌉, capped at the
    calibration size ``n`` — integer arithmetic in both engines."""
    return F.least(F.ceil(0.9 * (F.col("n") + 1)).cast("bigint"), F.col("n"))


def _realized_coverage(tst: DataFrame, q: DataFrame, qhat: str) -> DataFrame:
    """The test-split audit of a conformal quantile: ``q``'s columns plus
    n_test, n_covered and the realized coverage share of test scores at
    or under ``q``'s column ``qhat``, per segment g. The coverage
    booleans compare pre-round doubles."""
    covered = F.sum(F.when(F.col("score") <= F.col(qhat), 1).otherwise(0))
    return (
        tst.join(q, "g")
        .groupBy(*q.columns)
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            covered.cast("bigint").alias("n_covered"),
            F.round(covered.cast("double") / F.count("*"), 6).alias("coverage"),
        )
    )


def _conformal_scores(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The marginal split-conformal frames of the exact and approx
    builders: events split by the first md5 digit of event_id (train
    1/2, calib 1/4, test 1/4) into segments g = user_id % 5, the
    per-segment mean as the point model (an exact-decimal sum divided
    once as double), and nonconformity |y − ŷ| on the calibration split
    ``(g, event_id, score)`` and the test split ``(g, score)``."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 5).alias("g"),
        "value",
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).alias("d"),
    # Three consumers (model, calib, test) each re-scan events and
    # re-derive the md5 split digit: cut once so the hash projection
    # runs one pass (the mondrian twin's measured lever; row-identical).
    ).transform(cut)
    model = (
        ev.filter(F.col("d").between("0", "7"))
        .groupBy("g")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("yhat")
        )
    )
    calib = (
        ev.filter(F.col("d").isin("8", "9", "a", "b"))
        .join(model, "g")
        .select("g", "event_id", F.abs(F.col("value") - F.col("yhat")).alias("score"))
    )
    tst = (
        ev.filter(F.col("d").isin("c", "d", "e", "f"))
        .join(model, "g")
        .select("g", F.abs(F.col("value") - F.col("yhat")).alias("score"))
    )
    return calib, tst


def _exact_qhat(calib: DataFrame) -> DataFrame:
    """``(g, n_calib, qhat)``: the exact conformal quantile per segment,
    the _conformal_rank-th smallest calibration score (ties broken by
    event_id) under a window partitioned by segment."""
    wg = W.partitionBy("g")
    return (
        calib.select(
            "g",
            "score",
            F.row_number().over(wg.orderBy("score", "event_id")).alias("rn"),
            F.count("*").over(wg).alias("n"),
        )
        .filter(F.col("rn") == _conformal_rank())
        .select("g", F.col("n").cast("bigint").alias("n_calib"), F.col("score").alias("qhat"))
    )


@query(
    "eval_conformal_coverage",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id % 5 AS g, value,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS d
      FROM events
    ), model AS (
      SELECT g,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS yhat
      FROM ev WHERE d BETWEEN '0' AND '7' GROUP BY g
    ), calib AS (
      SELECT e.g, e.event_id, abs(e.value - m.yhat) AS score
      FROM ev e JOIN model m USING (g) WHERE e.d IN ('8', '9', 'a', 'b')
    ), ranked AS (
      SELECT g, score,
             row_number() OVER (PARTITION BY g ORDER BY score, event_id) AS rn,
             count(*) OVER (PARTITION BY g) AS n
      FROM calib
    ), q AS (
      SELECT g, CAST(n AS BIGINT) AS n_calib, score AS qhat
      FROM ranked
      WHERE rn = least(CAST(ceil(0.9 * (n + 1)) AS BIGINT), n)
    ), tst AS (
      SELECT e.g, abs(e.value - m.yhat) AS score
      FROM ev e JOIN model m USING (g) WHERE e.d IN ('c', 'd', 'e', 'f')
    )
    SELECT q.g, q.n_calib,
           round(q.qhat, 6) AS qhat,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN t.score <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
             AS n_covered,
           round(CAST(sum(CASE WHEN t.score <= q.qhat THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS coverage
    FROM tst t JOIN q USING (g)
    GROUP BY q.g, q.n_calib, q.qhat
    """,
)
def eval_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL prediction intervals with empirical coverage — the
    distribution-free calibration wrapper (Vovk; Angelopoulos & Bates
    2021 tutorial form) every model-scoring pipeline should ship with:
    a point model fits on the train split (here the per-segment mean —
    the model is deliberately trivial, the CONFORMAL arithmetic is the
    operator), nonconformity |y − ŷ| is ranked on a held-out calibration
    split, q̂ = the ⌈0.9·(n+1)⌉-th smallest calibration score, and the
    guarantee "P(|y − ŷ| ≤ q̂) ≥ 0.9" is then AUDITED on a disjoint test
    split — per segment: n_calib, q̂, and realized coverage. Splits are
    md5-deterministic (train 1/2, calib 1/4, test 1/4), the finite-sample
    ⌈(n+1)(1−α)⌉ index is the exact conformal rank (not a plug-in
    quantile), and a test pins realized coverage near the nominal level.

    Parity: ŷ is an exact-decimal sum divided once as double, scores are
    the identical IEEE subtraction in both engines, the rank index is
    integer arithmetic, and rounding happens only at emission — the
    coverage BOOLEANS compare pre-round doubles, so both engines count
    the same covered rows. Scale: one hash shuffle per split on the
    segment key (_conformal_scores); the exact rank window (_exact_qhat)
    partitions by segment (the 100 TB swap is approx_percentile(score,
    0.9) per segment — same plan skeleton, sketch instead of sort; this
    exact form is its oracle anchor, the ANN-family convention)."""
    calib, tst = _conformal_scores(spark, sf_dir)
    q = _exact_qhat(calib)
    return (
        _realized_coverage(tst, q, "qhat")
        .select(
            "g",
            "n_calib",
            F.round("qhat", 6).alias("qhat"),
            "n_test",
            "n_covered",
            "coverage",
        )
    )


@query(
    "eval_conformal_approx",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id % 5 AS g, value,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS d
      FROM events
    ), model AS (
      SELECT g,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS yhat
      FROM ev WHERE d BETWEEN '0' AND '7' GROUP BY g
    ), calib AS (
      SELECT e.g, e.event_id, abs(e.value - m.yhat) AS score
      FROM ev e JOIN model m USING (g) WHERE e.d IN ('8', '9', 'a', 'b')
    ), ranked AS (
      SELECT g, score,
             row_number() OVER (PARTITION BY g ORDER BY score, event_id) AS rn,
             count(*) OVER (PARTITION BY g) AS n
      FROM calib
    ), q AS (
      SELECT g, CAST(n AS BIGINT) AS n_calib, score AS qhat
      FROM ranked
      WHERE rn = least(CAST(ceil(0.9 * (n + 1)) AS BIGINT), n)
    ), tst AS (
      SELECT e.g, abs(e.value - m.yhat) AS score
      FROM ev e JOIN model m USING (g) WHERE e.d IN ('c', 'd', 'e', 'f')
    )
    SELECT q.g, q.n_calib,
           round(q.qhat, 6) AS qhat_exact,
           CAST(count(*) AS BIGINT) AS n_test,
           round(CAST(sum(CASE WHEN t.score <= q.qhat THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS coverage_exact,
           TRUE AS approx_within_rank_band,
           TRUE AS coverage_within_tol
    FROM tst t JOIN q USING (g)
    GROUP BY q.g, q.n_calib, q.qhat
    """,
)
def eval_conformal_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal AT SCALE — the ``approx_percentile`` twin the
    exact query's docstring promises (eval_conformal_coverage computes
    q̂ as the exact ⌈0.9·(n+1)⌉-th order statistic, which needs the full
    sorted score set per segment; the GK sketch is the only
    memory-bounded plan at 100 TB). Same splits, model and scores
    (_conformal_scores); q̂_approx = approx_percentile(score, 0.9,
    10000) per segment, certified two ways against the exact anchor
    while the data still fits:

    * ``approx_within_rank_band`` — q̂_approx lands inside the exact
      [p85, p95] calibration band: the RANK-error contract the sketch
      actually guarantees (± n/accuracy ranks, plus the ≤ 1-rank gap
      between level 0.9 and the finite-sample ⌈(n+1)(1−α)⌉ index) —
      the agg_approx_percentile_accuracy gate shape.
    * ``coverage_within_tol`` — realized test coverage under q̂_approx
      within max(0.02, 8/n_test) of the exact coverage: the operational
      question ("did the sketch move the guarantee?") with a tolerance
      that scales to small test splits.

    The oracle pins the exact quantile, the exact coverage, and both
    verdict booleans as TRUE; the approx values themselves are
    sketch-state-dependent (engine-specific), which is exactly why the
    gate hashes the VERDICTS, not the sketch output. Scale: one hash
    shuffle per split on the segment key; the sketch is fixed-size
    mergeable map-side state — the exact variant's sort-window is the
    only piece this plan drops."""
    calib, tst = _conformal_scores(spark, sf_dir)
    # Two consumers (exact rank window, percentile-sketch agg): cut so
    # the score projection materializes once.
    calib = cut(calib)
    exact_q = _exact_qhat(calib)
    # One percentile buffer for both exact band edges (array form): two
    # separate percentile() aggregates each build their own per-group
    # value-count map over the calibration scores. Bit-equal edges.
    sketch = (
        calib.groupBy("g")
        .agg(
            F.expr("approx_percentile(score, 0.9, 10000)").alias("qhat_approx"),
            F.expr("percentile(score, array(0.85, 0.95))").alias("band"),
        )
        .select(
            "g",
            "qhat_approx",
            F.element_at("band", 1).alias("band_lo"),
            F.element_at("band", 2).alias("band_hi"),
        )
    )
    cov_exact = F.sum(F.when(F.col("score") <= F.col("qhat"), 1).otherwise(0)).cast(
        "double"
    ) / F.count("*")
    cov_approx = F.sum(
        F.when(F.col("score") <= F.col("qhat_approx"), 1).otherwise(0)
    ).cast("double") / F.count("*")
    return (
        tst.join(exact_q, "g")
        .join(sketch, "g")
        .groupBy("g", "n_calib", "qhat", "qhat_approx", "band_lo", "band_hi")
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.round(cov_exact, 6).alias("coverage_exact"),
            (cov_approx - cov_exact).alias("cov_delta"),
        )
        .select(
            "g",
            "n_calib",
            F.round("qhat", 6).alias("qhat_exact"),
            "n_test",
            "coverage_exact",
            (
                (F.col("qhat_approx") >= F.col("band_lo"))
                & (F.col("qhat_approx") <= F.col("band_hi"))
            ).alias("approx_within_rank_band"),
            (
                F.abs(F.col("cov_delta"))
                <= F.greatest(F.lit(0.02), F.lit(8.0) / F.col("n_test"))
            ).alias("coverage_within_tol"),
        )
    )


@query(
    "eval_conformal_mondrian",
    oracle="""
    WITH ev0 AS (
      SELECT event_id, value,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS d,
             substr(md5(CAST(event_id AS VARCHAR)), 2, 1) AS d2
      FROM events
    ), g0 AS (
      SELECT event_id, value, d,
             CASE WHEN d2 IN ('0','2','4','6') THEN 'major0'
                  WHEN d2 IN ('1','3','5','7') THEN 'major1'
                  WHEN d2 IN ('8','9','a','b','c','d') THEN 'mid'
                  WHEN d2 = 'e' THEN 'rare_e' ELSE 'rare_f' END AS g
      FROM ev0
    ), ge AS (
      SELECT *, CASE WHEN g LIKE 'major%' THEN 'c_major'
                     WHEN g = 'mid' THEN 'c_mid' ELSE 'c_rare' END AS gc
      FROM g0
    ), model AS (
      SELECT CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS yhat
      FROM ge WHERE d BETWEEN '0' AND '7'
    ), calib AS (
      SELECT e.g, e.gc, e.event_id, abs(e.value - m.yhat) AS score
      FROM ge e CROSS JOIN model m WHERE e.d IN ('8', '9', 'a', 'b')
    ), total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM calib),
    rf AS (
      SELECT g, gc, score,
             row_number() OVER (PARTITION BY g ORDER BY score, event_id) AS rn,
             count(*) OVER (PARTITION BY g) AS n
      FROM calib
    ), qf AS (
      SELECT g, gc, CAST(n AS BIGINT) AS n_calib, score AS qhat_group
      FROM rf WHERE rn = least(CAST(ceil(0.9 * (n + 1)) AS BIGINT), n)
    ), rc AS (
      SELECT gc, score,
             row_number() OVER (PARTITION BY gc ORDER BY score, event_id) AS rn,
             count(*) OVER (PARTITION BY gc) AS n
      FROM calib
    ), qc AS (
      SELECT gc, score AS qhat_coarse
      FROM rc WHERE rn = least(CAST(ceil(0.9 * (n + 1)) AS BIGINT), n)
    ), q AS (
      SELECT qf.g, qf.gc, qf.n_calib,
             qf.n_calib * 10 < t.n_total AS used_fallback,
             qf.qhat_group, qc.qhat_coarse,
             CASE WHEN qf.n_calib * 10 < t.n_total THEN qc.qhat_coarse
                  ELSE qf.qhat_group END AS qhat_used
      FROM qf JOIN qc USING (gc) CROSS JOIN total t
    ), tst AS (
      SELECT e.g, abs(e.value - m.yhat) AS score
      FROM ge e CROSS JOIN model m WHERE e.d IN ('c', 'd', 'e', 'f')
    )
    SELECT q.g, q.gc, q.n_calib, q.used_fallback,
           round(q.qhat_group, 6) AS qhat_group,
           round(q.qhat_coarse, 6) AS qhat_coarse,
           round(q.qhat_used, 6) AS qhat_used,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN t.score <= q.qhat_used THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           round(CAST(sum(CASE WHEN t.score <= q.qhat_used THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS coverage
    FROM tst t JOIN q USING (g)
    GROUP BY q.g, q.gc, q.n_calib, q.used_fallback,
             q.qhat_group, q.qhat_coarse, q.qhat_used
    """,
)
def eval_conformal_mondrian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MONDRIAN (group-conditional) split conformal with a small-group
    fallback (verdict-r12 item #6) — the variant a risk team ships when
    groups have unequal difficulty AND unequal mass: each group gets its
    own calibration quantile q̂_g (the per-group conditional guarantee),
    but a group too small to calibrate reliably falls back to its COARSE
    parent's quantile. Groups are md5-derived and deliberately skewed
    (major0/major1 25% each, mid 37.5%, rare_e/rare_f 6.25% each); the
    fallback rule is scale-free — a group falls back when it holds under
    10% of the calibration mass (n_calib·10 < N) — so rare_e/rare_f fall
    back at EVERY SF and the path is pinnable, not fixture luck.

    Fallback target is the HIERARCHICAL parent (major*→c_major, mid→
    c_mid, rare_*→c_rare), not the global quantile, for two reasons: a
    Mondrian taxonomy coarsens, it doesn't discard conditioning (Vovk's
    Mondrian taxonomies are nested partitions); and a global exact rank
    is an unpartitioned sort — the coarse quantile keeps every window
    partitioned (lint-clean) at any scale. The exact ⌈0.9·(n+1)⌉ rank
    (_conformal_rank), split digits, and trivial point model are shared
    with eval_conformal_coverage, so the marginal gate and this conditional
    one certify the same mechanism.

    Parity: same decimal-exact model mean, identical IEEE score
    subtraction, integer rank arithmetic, integer×10 fallback predicate,
    round-6 only at emission (coverage booleans compare pre-round
    doubles). Scale: two partitioned rank windows (fine key, coarse
    key) + one 1-row broadcast total; at 100 TB both windows swap to
    approx_percentile per eval_conformal_approx's certified recipe."""
    md = F.md5(F.col("event_id").cast("string"))
    d2 = F.substring(md, 2, 1)
    gf = (
        F.when(d2.isin("0", "2", "4", "6"), "major0")
        .when(d2.isin("1", "3", "5", "7"), "major1")
        .when(d2.isin("8", "9", "a", "b", "c", "d"), "mid")
        .when(d2 == "e", "rare_e")
        .otherwise("rare_f")
    )
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "value",
        F.substring(md, 1, 1).alias("d"),
        gf.alias("g"),
    )
    ev = ev.withColumn(
        "gc",
        F.when(F.col("g").startswith("major"), "c_major")
        .when(F.col("g") == "mid", "c_mid")
        .otherwise("c_rare"),
    # THREE consumers (model, calib, test) each re-scan events and
    # re-derive the md5 splits: cut once so the hash projection runs one
    # pass (measured 1.0 -> 0.35 s at sf0.1 together with the calib cut
    # below; values row-identical). At scale the same cut stages the
    # split columns once instead of once per split consumer.
    ).transform(cut)
    model = ev.filter(F.col("d").between("0", "7")).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("*")
        ).alias("yhat")
    )
    calib = (
        ev.filter(F.col("d").isin("8", "9", "a", "b"))
        .crossJoin(F.broadcast(model))
        .select(
            "g", "gc", "event_id", F.abs(F.col("value") - F.col("yhat")).alias("score")
        )
        # Three consumers (total count, fine-rank window, coarse-rank
        # window): cut so the score projection materializes once.
        .transform(cut)
    )
    total = calib.agg(F.count("*").cast("bigint").alias("n_total"))
    rank_at = _conformal_rank()
    wf = W.partitionBy("g")
    qf = (
        calib.select(
            "g",
            "gc",
            "score",
            F.row_number().over(wf.orderBy("score", "event_id")).alias("rn"),
            F.count("*").over(wf).alias("n"),
        )
        .filter(F.col("rn") == rank_at)
        .select(
            "g",
            "gc",
            F.col("n").cast("bigint").alias("n_calib"),
            F.col("score").alias("qhat_group"),
        )
    )
    wc = W.partitionBy("gc")
    qc = (
        calib.select(
            "gc",
            "score",
            F.row_number().over(wc.orderBy("score", "event_id")).alias("rn"),
            F.count("*").over(wc).alias("n"),
        )
        .filter(F.col("rn") == rank_at)
        .select("gc", F.col("score").alias("qhat_coarse"))
    )
    fallback = F.col("n_calib") * 10 < F.col("n_total")
    q = (
        qf.join(qc, "gc")
        .crossJoin(F.broadcast(total))
        .select(
            "g",
            "gc",
            "n_calib",
            fallback.alias("used_fallback"),
            "qhat_group",
            "qhat_coarse",
            F.when(fallback, F.col("qhat_coarse"))
            .otherwise(F.col("qhat_group"))
            .alias("qhat_used"),
        )
    )
    tst = (
        ev.filter(F.col("d").isin("c", "d", "e", "f"))
        .crossJoin(F.broadcast(model))
        .select("g", F.abs(F.col("value") - F.col("yhat")).alias("score"))
    )
    return (
        _realized_coverage(tst, q, "qhat_used")
        .select(
            "g",
            "gc",
            "n_calib",
            "used_fallback",
            F.round("qhat_group", 6).alias("qhat_group"),
            F.round("qhat_coarse", 6).alias("qhat_coarse"),
            F.round("qhat_used", 6).alias("qhat_used"),
            "n_test",
            "n_covered",
            "coverage",
        )
    )


def _bandit_logs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The logged bandit traffic of the off-policy builders: action a =
    event_type, reward r = value, context c = the 6-hour slot, split by
    the first md5 digit of event_id into the learning logs ``(a, r, c,
    d)`` (digits 0-7) and the disjoint evaluation logs ``(c, a, r)``."""
    ev = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("a"),
        F.col("value").alias("r"),
        F.floor(F.hour("ts") / 6).cast("int").alias("c"),
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).alias("d"),
    )
    lrn = ev.filter(F.col("d").between("0", "7"))
    b = ev.filter(F.col("d") >= "8").select("c", "a", "r")
    return lrn, b


def _policy_join(b: DataFrame, learn: DataFrame, na: DataFrame) -> DataFrame:
    """Evaluation logs ``b`` joined to the greedy policy and its
    propensity: π(c) is the argmax of ``learn``'s mean reward mr per
    context (action-name tie-break; its mr kept as ``mr_pi``) and
    p̂(π(c)|c) the share of ``na``'s per-(c, a) learning-log counts. Both
    frames are grid-cardinality-bounded (|contexts| × |actions|)."""
    wpi = W.partitionBy("c").orderBy(F.desc("mr"), "a")
    pi = (
        learn.withColumn("rn", F.row_number().over(wpi))
        .filter(F.col("rn") == 1)
        .select("c", F.col("a").alias("pi_action"), F.col("mr").alias("mr_pi"))
    )
    prop = na.select(
        "c",
        "a",
        (F.col("na").cast("double") / F.sum("na").over(W.partitionBy("c"))).alias("p_a"),
    )
    return b.join(pi, "c").join(
        prop.select(F.col("c").alias("pc"), F.col("a").alias("pa_action"), "p_a"),
        (F.col("c") == F.col("pc")) & (F.col("pi_action") == F.col("pa_action")),
    )


@query(
    "eval_ips_policy_value",
    oracle="""
    WITH ev AS (
      SELECT event_type AS a, value AS r,
             CAST(floor(CAST(strftime(ts, '%H') AS BIGINT) / 6) AS INT) AS c,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS d
      FROM events
    ), learn AS (
      SELECT c, a,
             CAST(sum(CAST(r AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mr
      FROM ev WHERE d BETWEEN '0' AND '7' GROUP BY c, a
    ), pi AS (
      SELECT c, a AS pi_action FROM (
        SELECT c, a, row_number() OVER (PARTITION BY c ORDER BY mr DESC, a) AS rn
        FROM learn) WHERE rn = 1
    ), prop AS (
      SELECT c, a,
             CAST(count(*) AS DOUBLE)
               / sum(count(*)) OVER (PARTITION BY c) AS p_a
      FROM ev WHERE d BETWEEN '0' AND '7' GROUP BY c, a
    ), b AS (
      SELECT c, a, r FROM ev WHERE d >= '8'
    )
    SELECT b.c, pi.pi_action,
           round(prop.p_a, 6) AS propensity,
           CAST(count(*) AS BIGINT) AS n_logs,
           CAST(sum(CASE WHEN b.a = pi.pi_action THEN 1 ELSE 0 END) AS BIGINT)
             AS n_match,
           round(CAST(sum(CASE WHEN b.a = pi.pi_action
                               THEN CAST(b.r AS DECIMAL(18,6)) END) AS DOUBLE)
                 / nullif(sum(CASE WHEN b.a = pi.pi_action THEN 1 ELSE 0 END), 0),
                 6) AS dm_value,
           round((CAST(sum(CASE WHEN b.a = pi.pi_action
                                THEN CAST(b.r AS DECIMAL(18,6)) END) AS DOUBLE)
                  / prop.p_a) / count(*), 6) AS ips_value
    FROM b
    JOIN pi USING (c)
    JOIN prop ON prop.c = b.c AND prop.a = pi.pi_action
    GROUP BY b.c, pi.pi_action, prop.p_a
    """,
)
def eval_ips_policy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFF-POLICY evaluation by inverse propensity scoring (Horvitz &
    Thompson; the Li et al. 2011 offline-bandit-replay shape) — "what
    would the greedy policy have earned?" answered from LOGGED traffic
    only: the target policy π picks the argmax-mean-reward action per
    context on the LEARNING split (md5 digits 0-7), behavior propensities
    p̂(a|c) come from the same split, and on the disjoint EVALUATION
    split the IPS value per context is Σ_{a=π(c)} r / p̂(π(c)|c) / n —
    reported next to the direct-method estimate (mean reward of matching
    logs) whose gap from IPS is exactly the propensity correction.
    Propensities must come from a split DISJOINT from the evaluation
    logs: with same-split empirical propensities IPS degenerates to DM
    identically (the classic silent off-policy bug — the two columns
    would be equal and the estimator content vanishes).

    Parity: means and propensities are exact-decimal (or integer-count)
    numerators divided once as double; the argmax carries an action-name
    tie-break; ips chains two double divisions on exact operands and
    rounds only at emission. Scale: two hash aggregations on (context,
    action) — a bounded grid — plus one pass over evaluation logs; the
    policy/propensity frames _policy_join joins to the log stream are
    the canonical broadcast-dim shape, left to AQE."""
    lrn, b = _bandit_logs(spark, sf_dir)
    learn = lrn.groupBy("c", "a").agg(
        (F.sum(F.col("r").cast("decimal(18,6)")).cast("double") / F.count("*")).alias("mr")
    )
    na = lrn.groupBy("c", "a").agg(F.count("*").alias("na"))
    j = _policy_join(b, learn, na)
    match = F.when(F.col("a") == F.col("pi_action"), 1).otherwise(0)
    match_r = F.sum(F.when(F.col("a") == F.col("pi_action"), F.col("r").cast("decimal(18,6)")))
    return (
        j.groupBy("c", "pi_action", "p_a")
        .agg(
            F.count("*").cast("bigint").alias("n_logs"),
            F.sum(match).cast("bigint").alias("n_match"),
            F.round(
                match_r.cast("double") / F.nullif(F.sum(match), F.lit(0)), 6
            ).alias("dm_value"),
            F.round((match_r.cast("double") / F.col("p_a")) / F.count("*"), 6).alias(
                "ips_value"
            ),
        )
        .select(
            "c",
            "pi_action",
            F.round("p_a", 6).alias("propensity"),
            "n_logs",
            "n_match",
            "dm_value",
            "ips_value",
        )
    )


def _dr_policy_frame(
    spark: SparkSession, sf_dir: str, correction_scale: float = 1.0
) -> DataFrame:
    """Shared builder for eval_dr_policy_value; ``correction_scale``
    multiplies the IPS correction term so the DR == DM identity under a
    zeroed correction is pinnable in tests without a second codepath
    (tests/test_r12_invariants.py)."""
    lrn, b = _bandit_logs(spark, sf_dir)
    # r15 single-pass fusion (guide §1.2): the reward model (mean r) and
    # the propensities (counts) were two separate aggregations over the
    # SAME groupBy(c, a) of the learning split — their partial-agg
    # payloads differ, so ReuseExchange cannot dedupe them and the split
    # scanned twice. One grouped aggregate now carries both (sum, count);
    # mr and p_a derive from it with the identical arithmetic. The
    # bounded (context, action) grid is cut once for its two downstream
    # consumers (the argmax window and the propensity join).
    g = (
        lrn.groupBy("c", "a")
        .agg(
            F.sum(F.col("r").cast("decimal(18,6)")).alias("sr"),
            F.count("*").alias("na"),
        )
        .transform(cut)
    )
    learn = g.select("c", "a", (F.col("sr").cast("double") / F.col("na")).alias("mr"))
    j = _policy_join(b, learn, g)
    match = F.when(F.col("a") == F.col("pi_action"), 1).otherwise(0)
    match_r = F.sum(F.when(F.col("a") == F.col("pi_action"), F.col("r").cast("decimal(18,6)")))
    # The bounded per-context cell grid feeds snips AND the final select —
    # cut once so the evaluation-split join pipeline runs a single time.
    cell = (
        j.groupBy("c", "pi_action", "mr_pi", "p_a")
        .agg(
            F.count("*").cast("bigint").alias("n_logs"),
            F.sum(match).cast("bigint").alias("n_match"),
            # coalesce: a context with zero matching logs has an exact-zero
            # (not NULL) correction numerator — DuckDB's CASE-sum mirrors
            F.coalesce(match_r, F.lit(0).cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_match_r"),
        )
        .transform(cut)
    )
    # SNIPS (self-normalized IPS, Swaminathan & Joachims 2015) over the
    # whole evaluation split: Σ_c w_c·r̄_c / Σ_c w_c with w = 1/p̂ —
    # per-context terms round-6 into exact DECIMAL before the cross-
    # context sum so the fold order can't drift the double.
    snips = cell.agg(
        F.try_divide(
            F.sum(
                F.round(F.try_divide(F.col("sum_match_r"), F.col("p_a")), 6).cast(
                    "decimal(28,6)"
                )
            ).cast("double"),
            F.sum(
                F.round(
                    F.try_divide(F.col("n_match").cast("double"), F.col("p_a")), 6
                ).cast("decimal(28,6)")
            ).cast("double"),
        ).alias("snips_v")
    )
    correction = F.lit(float(correction_scale)) * F.try_divide(
        F.try_divide(
            F.col("sum_match_r") - F.col("n_match") * F.col("mr_pi"), F.col("p_a")
        ),
        F.col("n_logs"),
    )
    return cell.crossJoin(snips).select(
        "c",
        "pi_action",
        F.round("p_a", 6).alias("propensity"),
        "n_logs",
        "n_match",
        F.round("mr_pi", 6).alias("dm_model_value"),
        F.round(
            F.try_divide(F.try_divide(F.col("sum_match_r"), F.col("p_a")), F.col("n_logs")),
            6,
        ).alias("ips_value"),
        F.round(F.col("mr_pi") + correction, 6).alias("dr_value"),
        F.round("snips_v", 6).alias("snips_value"),
    )


@query(
    "eval_dr_policy_value",
    oracle="""
    WITH ev AS (
      SELECT event_type AS a, value AS r,
             CAST(floor(CAST(strftime(ts, '%H') AS BIGINT) / 6) AS INT) AS c,
             substr(md5(CAST(event_id AS VARCHAR)), 1, 1) AS d
      FROM events
    ), learn AS (
      SELECT c, a,
             CAST(sum(CAST(r AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mr
      FROM ev WHERE d BETWEEN '0' AND '7' GROUP BY c, a
    ), pi AS (
      SELECT c, a AS pi_action, mr AS mr_pi FROM (
        SELECT c, a, mr, row_number() OVER (PARTITION BY c ORDER BY mr DESC, a) AS rn
        FROM learn) WHERE rn = 1
    ), prop AS (
      SELECT c, a,
             CAST(count(*) AS DOUBLE)
               / sum(count(*)) OVER (PARTITION BY c) AS p_a
      FROM ev WHERE d BETWEEN '0' AND '7' GROUP BY c, a
    ), b AS (
      SELECT c, a, r FROM ev WHERE d >= '8'
    ), cell AS (
      SELECT b.c, pi.pi_action, pi.mr_pi, prop.p_a,
             CAST(count(*) AS BIGINT) AS n_logs,
             CAST(sum(CASE WHEN b.a = pi.pi_action THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match,
             CAST(coalesce(sum(CASE WHEN b.a = pi.pi_action
                                    THEN CAST(b.r AS DECIMAL(18,6)) END),
                           0) AS DOUBLE) AS sum_match_r
      FROM b
      JOIN pi USING (c)
      JOIN prop ON prop.c = b.c AND prop.a = pi.pi_action
      GROUP BY b.c, pi.pi_action, pi.mr_pi, prop.p_a
    ), snips AS (
      SELECT CAST(sum(CAST(round(sum_match_r / p_a, 6) AS DECIMAL(28,6))) AS DOUBLE)
             / nullif(CAST(sum(CAST(round(CAST(n_match AS DOUBLE) / p_a, 6)
                                    AS DECIMAL(28,6))) AS DOUBLE), 0) AS snips_v
      FROM cell
    )
    SELECT c, pi_action,
           round(p_a, 6) AS propensity,
           n_logs, n_match,
           round(mr_pi, 6) AS dm_model_value,
           round((sum_match_r / p_a) / n_logs, 6) AS ips_value,
           round(mr_pi + ((sum_match_r - n_match * mr_pi) / p_a) / n_logs, 6)
             AS dr_value,
           round(snips.snips_v, 6) AS snips_value
    FROM cell CROSS JOIN snips
    """,
)
def eval_dr_policy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOUBLY-ROBUST off-policy value (Dudík, Langford & Li 2011) +
    SNIPS — the estimators a real eval pipeline ships because plain IPS
    variance explodes at small propensities: per context, V_DR =
    q̂(c,π(c)) + (1/n)·Σ_{a_i=π(c)} (r_i − q̂(c,π(c)))/p̂(π(c)|c) — the
    direct-model baseline (the learning-split reward model, the q̂ the
    sibling eval_ips_policy_value only uses to PICK π) plus the
    importance-weighted residual correction. DR is unbiased if EITHER
    the model or the propensities are right; when the correction is
    zeroed it degenerates to exactly the direct method (identity pinned
    in tests/test_r12_invariants.py via the correction_scale hook).
    snips_value is the self-normalized IPS value over the whole
    evaluation split (Swaminathan & Joachims 2015): Σ w·r / Σ w with
    w = 1{a=π(c)}/p̂ — the weight renormalization that trades IPS's
    unbiasedness for bounded variance.

    Parity: the correction numerator is one exact-decimal sum minus an
    integer-scaled double product, divided twice on exact operands;
    SNIPS's cross-context fold rounds each context term to 6 into
    DECIMAL(28,6) first so the sum order cannot drift the double; every
    argmax carries an action tie-break; rounding only at emission.
    Scale: identical skeleton to eval_ips_policy_value — two hash
    aggregations on the bounded (context, action) grid, one pass over
    the evaluation logs, a 4-row second-stage aggregate for SNIPS
    cross-joined back (grid-bounded, AQE-broadcast)."""
    return _dr_policy_frame(spark, sf_dir, correction_scale=1.0)


@query(
    "eval_bradley_terry_ratings",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type, value
      FROM events
    ), duel AS (
      SELECT event_type AS a, lead(event_type) OVER w AS b,
             value AS va, lead(value) OVER w AS vb
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), battles AS (
      SELECT a, b, CASE WHEN va > vb THEN 1 ELSE 0 END AS win_a
      FROM duel WHERE b IS NOT NULL AND a <> b
    ), sym AS (
      SELECT a AS i, b AS j, win_a AS w FROM battles
      UNION ALL
      SELECT b, a, 1 - win_a FROM battles
    ), grid AS (
      SELECT i, j, CAST(count(*) AS BIGINT) AS n_ij,
             CAST(sum(w) AS BIGINT) AS w_ij
      FROM sym GROUP BY i, j
    ), tot AS (
      SELECT i, CAST(sum(n_ij) AS BIGINT) AS n_i,
             CAST(sum(w_ij) AS BIGINT) AS w_i
      FROM grid GROUP BY i
    ), s1 AS (
      SELECT i, n_i, w_i, w_i * 2.0 / n_i AS s1_raw FROM tot
    ), s1n AS (
      SELECT i, n_i, w_i,
             s1_raw / CAST((SELECT sum(CAST(round(s1_raw, 10) AS DECIMAL(28,10)))
                            FROM s1) AS DOUBLE) AS s1_norm
      FROM s1
    ), den AS (
      SELECT g.i,
             CAST(sum(CAST(round(g.n_ij / (si.s1_norm + sj.s1_norm), 10)
                           AS DECIMAL(28,10))) AS DOUBLE) AS d_i
      FROM grid g
      JOIN s1n si ON si.i = g.i
      JOIN s1n sj ON sj.i = g.j
      GROUP BY g.i
    ), s2 AS (
      SELECT t.i, t.n_i, t.w_i, si.s1_norm, t.w_i / d.d_i AS s2_raw
      FROM tot t JOIN den d ON d.i = t.i JOIN s1n si ON si.i = t.i
    ), s2n AS (
      SELECT i, n_i, w_i, s1_norm,
             s2_raw / CAST((SELECT sum(CAST(round(s2_raw, 10) AS DECIMAL(28,10)))
                            FROM s2) AS DOUBLE) AS s2_norm
      FROM s2
    )
    SELECT i AS model, n_i AS n_battles, w_i AS n_wins,
           round(s1_norm, 6) AS s1, round(s2_norm, 6) AS s2,
           CAST(row_number() OVER (ORDER BY s2_norm DESC, i) AS BIGINT) AS rnk
    FROM s2n
    """,
)
def eval_bradley_terry_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRADLEY-TERRY strength ratings by minorization-maximization — the
    batch form of arena-style model ranking (the estimator behind
    chatbot-arena Elo tables; Hunter 2004 MM algorithm): "battles" are
    consecutive same-user events (session order, ts + event_id
    tie-break), the higher value wins, self-pairs are dropped, and two MM
    steps run on the 5×5 AGGREGATE battle grid — s_i ← W_i / Σ_j
    n_ij/(s_i+s_j), sum-normalized each step from a uniform start. Step
    1 from uniform is exactly scaled win-rate; step 2 is where opponent
    strength starts to matter (beating strong opponents counts more) —
    emitting both hash-attests the schedule-adjustment itself, not just
    the win tally.

    Parity discipline: every cross-engine SUM of doubles (the MM
    denominators, the normalizers) rounds each term to 10 decimals and
    accumulates in DECIMAL(28,10) — the link-prediction/KL exact-sum
    rule — so summation order can't drift the hash; battle counts are
    exact BIGINTs and the final ranks carry a model-name tie-break.

    Spark-first/100 TB: pairing is ONE per-user window (lead), the grid
    collapse is one hash aggregation to |models|² rows, and BOTH MM
    steps run entirely on that bounded grid (joins keyed on model id —
    AQE broadcasts a |models|-row frame trivially); iterations never
    touch the event stream again, so a 50-step fit costs the same one
    pass plus 50 grid-sized refinements."""
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "value")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    duel = e.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(wu).alias("b"),
        F.col("value").alias("va"),
        F.lead("value").over(wu).alias("vb"),
    ).filter(F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    battles = duel.select(
        "a", "b", F.when(F.col("va") > F.col("vb"), 1).otherwise(0).alias("win_a")
    )
    sym = battles.select(
        F.col("a").alias("i"), F.col("b").alias("j"), F.col("win_a").alias("w")
    ).unionByName(
        battles.select(
            F.col("b").alias("i"), F.col("a").alias("j"), (1 - F.col("win_a")).alias("w")
        )
    )
    # The |models|² battle grid (≤25 rows) feeds tot AND den, and every
    # MM-step frame below re-joins it or its descendants — without a cut
    # the events window + pair aggregation re-inlines into EVERY consumer
    # (r15 measured: 32 parquet scans / 33 Windows / 82 Exchanges in the
    # executed plan). Cut once; everything downstream is grid-sized
    # algebra on ≤25 rows.
    grid = (
        sym.groupBy("i", "j")
        .agg(
            F.count("*").cast("bigint").alias("n_ij"),
            F.sum("w").cast("bigint").alias("w_ij"),
        )
        .transform(cut)
    )
    tot = grid.groupBy("i").agg(
        F.sum("n_ij").cast("bigint").alias("n_i"), F.sum("w_ij").cast("bigint").alias("w_i")
    )

    def exact_sum(col):
        return F.sum(F.round(col, 10).cast("decimal(28,10)")).cast("double")

    s1 = tot.select("i", "n_i", "w_i", (F.col("w_i") * 2.0 / F.col("n_i")).alias("s1_raw"))
    z1 = s1.agg(exact_sum(F.col("s1_raw")).alias("z"))
    # s1n feeds three consumers (both den sides + the s2 join): same cut.
    s1n = (
        s1.crossJoin(z1)
        .select("i", "n_i", "w_i", (F.col("s1_raw") / F.col("z")).alias("s1_norm"))
        .transform(cut)
    )
    den = (
        grid.join(s1n.select(F.col("i"), F.col("s1_norm").alias("si")), "i")
        .join(s1n.select(F.col("i").alias("j"), F.col("s1_norm").alias("sj")), "j")
        .groupBy("i")
        .agg(exact_sum(F.col("n_ij") / (F.col("si") + F.col("sj"))).alias("d_i"))
    )
    s2 = (
        tot.join(den, "i")
        .join(s1n.select("i", "s1_norm"), "i")
        .select("i", "n_i", "w_i", "s1_norm", (F.col("w_i") / F.col("d_i")).alias("s2_raw"))
    )
    z2 = s2.agg(exact_sum(F.col("s2_raw")).alias("z"))
    s2n = s2.crossJoin(z2).select(
        "i", "n_i", "w_i", "s1_norm", (F.col("s2_raw") / F.col("z")).alias("s2_norm")
    )
    wr = W.partitionBy(bounded_window_key(F.col("n_i"))).orderBy(
        F.desc("s2_norm"), "i"
    )
    return s2n.select(
        F.col("i").alias("model"),
        F.col("n_i").alias("n_battles"),
        F.col("w_i").alias("n_wins"),
        F.round("s1_norm", 6).alias("s1"),
        F.round("s2_norm", 6).alias("s2"),
        F.row_number().over(wr).cast("bigint").alias("rnk"),
    )


@query(
    "eval_woe_iv_binning",
    oracle="""
    WITH e AS (
      SELECT CAST(least(floor(value / 50.0), 9) AS INT) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), b AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(y) AS BIGINT) AS n_neg
      FROM e GROUP BY bin
    ), tot AS (
      SELECT CAST(sum(n_pos) AS BIGINT) AS tp, CAST(sum(n_neg) AS BIGINT) AS tn,
             CAST(count(*) AS BIGINT) AS k
      FROM b
    ), w AS (
      SELECT b.bin, b.n, b.n_pos, b.n_neg,
             (b.n_pos + 0.5) / (t.tp + 0.5 * t.k) AS ps,
             (b.n_neg + 0.5) / (t.tn + 0.5 * t.k) AS ns
      FROM b CROSS JOIN tot t
    )
    SELECT bin, n, n_pos, n_neg,
           round(ln(ps / ns), 6) AS woe,
           round((ps - ns) * ln(ps / ns), 6) AS iv_contrib
    FROM w
    """,
)
def eval_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-OF-EVIDENCE / INFORMATION-VALUE binning — the classical
    feature-screening transform (credit-scoring lineage, now the
    standard quality-classifier feature audit): the value column is cut
    into ten FIXED-WIDTH bins (floor(v/50), capped — deterministic
    arithmetic, deliberately NOT ntile: a rank-based cut needs a global
    sort-window, a fixed grid is one map-side expression at any corpus
    size), the label is the purchase event, and each bin reports
    WOE = ln(P(bin|pos)/P(bin|neg)) with its IV contribution
    (ps − ns)·WOE — Σ iv_contrib is the feature's screening score
    (< 0.02 useless, > 0.3 strong — the thresholds every scorecard
    pipeline applies). Laplace-smoothed with 0.5 per bin (k·0.5 mass on
    each side's total) so an empty side never produces ±∞ — smoothing
    identical in both engines.

    Parity: counts are exact BIGINTs end to end; ps/ns/WOE are each ONE
    double division/log of exact-integer-derived operands (no double
    summation anywhere), rounded at emission. Scale: one hash
    aggregation to a 10-row grid plus a 2-row total — strictly one pass,
    no window, no join beyond the grid×scalar cross."""
    e = t(spark, sf_dir, "events").select(
        F.least(F.floor(F.col("value") / 50.0), F.lit(9)).cast("int").alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = e.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count("*") - F.sum("y")).cast("bigint").alias("n_neg"),
    )
    tot = b.agg(
        F.sum("n_pos").cast("bigint").alias("tp"),
        F.sum("n_neg").cast("bigint").alias("tn"),
        F.count("*").cast("bigint").alias("k"),
    )
    ps = (F.col("n_pos") + 0.5) / (F.col("tp") + 0.5 * F.col("k"))
    ns = (F.col("n_neg") + 0.5) / (F.col("tn") + 0.5 * F.col("k"))
    return b.crossJoin(tot).select(
        "bin",
        "n",
        "n_pos",
        "n_neg",
        F.round(F.log(ps / ns), 6).alias("woe"),
        F.round((ps - ns) * F.log(ps / ns), 6).alias("iv_contrib"),
    )


# --- Poisson bootstrap (r12) -------------------------------------------------
# Poisson(1) CDF thresholds as 8-hex-digit string literals: a weight is
# assigned by comparing the first 8 md5 hex chars (a uniform in [0, 16^8))
# against these LITERAL strings, so both engines make byte-identical
# decisions — no exp()/float CDF evaluation anywhere. Tail truncated at
# w = 7 (P(w > 6) ~ 8.3e-5), stated in the docstring.
_POIS_T = ["5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5", "ffd90f3b", "fffa8b71"]
_BOOT_B = 32


def _boot_oracle() -> str:
    w_cases = []
    for b in range(_BOOT_B):
        # 4 independent 8-hex uniforms per md5 (32 hex chars): replicate b
        # reads slot b%4 of hash group b//4 — 8 hashes/row, not 32.
        h = (
            f"substr(md5(CAST(event_id AS VARCHAR) || ':{b // 4}'),"
            f" {(b % 4) * 8 + 1}, 8)"
        )
        case = "CASE " + " ".join(
            f"WHEN {h} < '{tv}' THEN {k}" for k, tv in enumerate(_POIS_T)
        ) + f" ELSE {len(_POIS_T)} END"
        w_cases.append(case)
    sums = ", ".join(
        f"sum({w_cases[b]} * CAST(value AS DECIMAL(18,6))) AS s{b}, "
        f"CAST(sum({w_cases[b]}) AS BIGINT) AS w{b}"
        for b in range(_BOOT_B)
    )
    means = ", ".join(f"CAST(s{b} AS DOUBLE) / nullif(w{b}, 0)" for b in range(_BOOT_B))
    return f"""
    WITH cell AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS point,
             {sums}
      FROM events GROUP BY event_type
    ), rep AS (
      SELECT event_type, n, point,
             list_sort(list_filter([{means}], x -> x IS NOT NULL)) AS ms
      FROM cell
    )
    SELECT event_type, n,
           round(point, 6) AS point_mean,
           CAST(len(ms) AS BIGINT) AS n_replicates,
           round(ms[1], 6) AS ci_lo,
           round(ms[len(ms)], 6) AS ci_hi
    FROM rep WHERE len(ms) > 0
    """


@query("eval_poisson_bootstrap_ci", oracle=_boot_oracle())
def eval_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP confidence intervals — the resampling scheme that
    actually works on massive data (Chamandy, Muralidharan, Najmi & Naidu
    2012, "Estimating Uncertainty for Massive Data Streams"; Kleiner et
    al.'s BLB is the subsample cousin): classical bootstrap needs n draws
    WITH replacement per replicate — unthinkable shuffles at corpus scale
    — but each row's multiplicity in a replicate is asymptotically
    Poisson(1), so B = 32 replicate estimates reduce to 2·B extra SUM
    columns in the ONE aggregation pass the point estimate already does
    (map-side combinable, zero row amplification, zero extra shuffles).
    Per event type: the mean of value, plus a rank-based percentile CI
    from the 32 replicate means (B = 32 puts the 2.5%/97.5% ranks at the
    extreme order statistics — documented, the standard small-B
    bootstrap caveat).

    Determinism/parity: replicate weights come from md5(event_id ':' b)'s
    first 8 hex chars compared against PRECOMPUTED Poisson(1)-CDF hex
    THRESHOLD LITERALS (module constant _POIS_T) — pure string
    comparisons, so both engines draw byte-identical weights with no
    float CDF evaluation; the tail truncates at w = 7 (P ~ 8e-5, a
    bounded bias both engines share identically). Weighted sums
    accumulate w·value in exact DECIMAL, each replicate mean is one
    double division (NULL when a replicate's total weight is 0 — dropped
    from the sorted array identically on both sides via x/0 -> NULL ==
    try_divide), rounding at emission only.

    Scale: ONE hash aggregation over event_type carrying 64 partial-agg
    columns; the replicate array sort is in-row over 32 doubles. At
    100 TB the only change is swapping md5 for xxhash64 (engine-specific
    but cheaper — this md5 form is the cross-engine-attestable anchor,
    the established deterministic-sampling idiom)."""
    # spread(): the weight projection (8 md5/row feeding 64 partial-agg
    # columns, a stage too wide for whole-stage codegen so it runs
    # interpreted) dwarfs the scan; a single-row-group fixture scans as
    # ONE task and would serialize all of it on one core. The exchange
    # moves only (event_id, event_type, v) — self-disabling on multi-file
    # corpora (guide §2.4/§6.1; isolated A/B 4.9 -> 2.7 s at sf0.1).
    ev = spread(
        t(spark, sf_dir, "events").selectExpr(
            "event_id", "event_type", "CAST(value AS DECIMAL(18,6)) AS v"
        )
    )

    def w(b: int) -> str:
        # Slot b%4 of md5 group b//4: one 128-bit hash yields four
        # independent 8-hex uniforms, so 32 replicate weights cost 8
        # hashes per row, not 32 (the hash is the hot loop's only
        # non-trivial op; measured ~2x on the sf0.1 agg stage).
        h = (
            f"substring(md5(concat(cast(event_id as string), ':{b // 4}')),"
            f" {(b % 4) * 8 + 1}, 8)"
        )
        cases = " ".join(f"WHEN {h} < '{tv}' THEN {k}" for k, tv in enumerate(_POIS_T))
        return f"(CASE {cases} ELSE {len(_POIS_T)} END)"

    # Project each replicate weight ONCE before the aggregation: with the
    # weight expression inlined in both of its sums, each row would pay
    # 2 md5() per replicate (64/row) — the pre-projection halves the hash
    # work and keeps the agg stage to plain column arithmetic (measured
    # 6.0 s -> ~3 s at sf0.1). Values identical: same expressions, same
    # exact-decimal accumulation.
    #
    # r15 construction-cost rewrite — see dq_permutation_test's docstring
    # note: the 32 chained-when weight trees + 64 agg columns + the ×3
    # inlined 32-division array cost fn 2.65 s of driver time vs act
    # 1.05 s; ONE SQL string / one analysis pass now builds the same
    # plan (values verified row-identical; B = 32 keeps the CI at
    # array_min/array_max of the replicate means exactly as before).
    weights = ",\n         ".join(f"{w(b)} AS wc{b}" for b in range(_BOOT_B))
    rep_aggs = ",\n         ".join(
        f"sum(wc{b} * v) AS s{b}, CAST(sum(wc{b}) AS BIGINT) AS w{b}"
        for b in range(_BOOT_B)
    )
    means = ", ".join(
        f"try_divide(CAST(s{b} AS DOUBLE), w{b})" for b in range(_BOOT_B)
    )
    return spark.sql(
        f"""
SELECT event_type, n, point_mean, n_replicates, ci_lo, ci_hi
FROM (
  SELECT event_type, n, round(point, 6) AS point_mean,
         CAST(size(fm) AS BIGINT) AS n_replicates,
         round(array_min(fm), 6) AS ci_lo,
         round(array_max(fm), 6) AS ci_hi
  FROM (
    SELECT event_type, n, point,
           filter(array({means}), x -> x IS NOT NULL) AS fm
    FROM (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS DOUBLE) / count(*) AS point,
             {rep_aggs}
      FROM (
        SELECT event_type, v,
         {weights}
        FROM {{ev}}
      )
      GROUP BY event_type
    )
  )
)
WHERE n_replicates > 0
""",
        ev=ev,
    )


# DDSketch parameters, spelled as the SAME double literals in both
# engines: gamma = 1.02, ln(gamma), and the midpoint factor 2/(gamma+1).
_DD_LNG = "0.01980262729617973"
_DD_MID = "0.9900990099009901"
# relative-error acceptance: alpha = (gamma-1)/(gamma+1) ~ 0.009901, plus
# slack for the interpolated exact percentile landing between order stats
_DD_BOUND = "0.011"


@query(
    "agg_ddsketch_quantiles",
    oracle=f"""
    WITH x AS (
      SELECT o_totalprice AS v FROM orders WHERE o_totalprice > 0
    ), b AS (
      SELECT CAST(ceil(ln(v) / {_DD_LNG}) AS BIGINT) AS bkt,
             CAST(count(*) AS BIGINT) AS c
      FROM x GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_buckets
      FROM b
    ), cum AS (
      SELECT bkt, c,
             sum(c) OVER (ORDER BY bkt ROWS UNBOUNDED PRECEDING) AS cumc
      FROM b
    ), qs AS (
      SELECT unnest([0.5, 0.95, 0.99]) AS q,
             unnest(quantile_cont(v, [0.5, 0.95, 0.99])) AS exact
      FROM x
    ), hit AS (
      SELECT qs.q, qs.exact, min(cum.bkt) AS bkt
      FROM qs CROSS JOIN tot
      JOIN cum ON cum.cumc >= floor(qs.q * (tot.n - 1)) + 1
      GROUP BY qs.q, qs.exact
    )
    SELECT hit.q,
           round(exp(hit.bkt * {_DD_LNG}) * {_DD_MID}, 6) AS est,
           round(hit.exact, 6) AS exact,
           round(abs(exp(hit.bkt * {_DD_LNG}) * {_DD_MID} / hit.exact - 1.0), 6)
             AS rel_err,
           abs(exp(hit.bkt * {_DD_LNG}) * {_DD_MID} / hit.exact - 1.0)
             <= {_DD_BOUND} AS within_bound,
           tot.n AS n_rows, tot.n_buckets
    FROM hit CROSS JOIN tot
    """,
)
def agg_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSKETCH relative-error quantiles (Masson, Rim & Lee, VLDB 2019 —
    the mergeable sketch behind Datadog/Spark-observability percentile
    pipelines): log-gamma bucketing ceil(ln x / ln gamma) with
    gamma = 1.02 guarantees every extracted quantile lands within
    alpha = (gamma-1)/(gamma+1) ~ 1% RELATIVE error — unlike
    approx_percentile's rank-error contract (agg_approx_percentile
    _accuracy), the error bound survives heavy right tails, which is
    why latency/money metrics sketch this way. Extracts p50/p95/p99
    from the bucket histogram beside the EXACT interpolated percentile
    and certifies the realized relative error against the bound.

    Parity discipline: bucket indexes are floor/ceil of ln ratios on
    identical doubles with ln(gamma) and the midpoint factor
    2/(gamma+1) spelled as shared double literals (no pow/log-base at
    query time); bucket counts and cumulative ranks are exact integers;
    the only floats are the per-bucket ln/exp pairs and the final
    certified comparison of identical doubles.

    Spark-first: the sketch IS one map-side-combinable grouped count on
    the bucket index (at 100 TB this is the textbook mergeable-sketch
    reduction — partials combine by adding bucket counts); the
    cumulative walk and quantile extraction run on the <= |buckets|
    grid (value-range-bounded, ~400 rows at ANY scale), and the exact
    comparator is a single percentile aggregation used only for the
    certification."""
    o = t(spark, sf_dir, "orders")
    lng = float(_DD_LNG)
    mid = float(_DD_MID)
    x = o.filter(F.col("o_totalprice") > 0).select(F.col("o_totalprice").alias("v"))
    b = x.groupBy(
        F.ceil(F.log("v") / F.lit(lng)).cast("bigint").alias("bkt")
    ).agg(F.count("*").cast("bigint").alias("c"))
    tot = b.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_buckets"),
    )
    wc = (
        W.partitionBy(bounded_window_key(F.col("bkt")))
        .orderBy("bkt")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = b.select("bkt", "c", F.sum("c").over(wc).alias("cumc"))
    qs = (
        x.agg(
            F.expr("percentile(v, array(0.5, 0.95, 0.99))").alias("ex"),
        )
        .select(
            F.posexplode("ex").alias("i", "exact"),
        )
        .select(
            F.element_at(F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), F.col("i") + 1).alias("q"),
            "exact",
        )
    )
    hit = (
        qs.crossJoin(F.broadcast(tot))
        .join(
            cum,
            F.col("cumc") >= F.floor(F.col("q") * (F.col("n") - 1)) + 1,
        )
        .groupBy("q", "exact")
        .agg(F.min("bkt").alias("bkt"))
    )
    est = F.exp(F.col("bkt") * F.lit(lng)) * F.lit(mid)
    rel = F.abs(est / F.col("exact") - F.lit(1.0))
    return (
        hit.crossJoin(F.broadcast(tot))
        .select(
            "q",
            F.round(est, 6).alias("est"),
            F.round("exact", 6).alias("exact"),
            F.round(rel, 6).alias("rel_err"),
            (rel <= F.lit(float(_DD_BOUND))).alias("within_bound"),
            F.col("n").alias("n_rows"),
            "n_buckets",
        )
    )
