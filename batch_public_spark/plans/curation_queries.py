"""Corpus-curation operators, wave 2: incremental bloom-gated dedup,
hashed-feature quality classification, sliding-window chunking, weighted
sampling, cross-source contamination, and PII redaction.

These extend the north-star LLM-data-pipeline family (BASELINE.json; the
reference has no analytics surface — its only dedup is the keyed first-wins
D1 at batch/dynamo_fetcher.py:320-339). Oracle strategy follows
llmops_queries: every formula here is pure deterministic integer/decimal
arithmetic over md5 (both engines agree bit-for-bit), so all six queries are
fully DuckDB-hash-checked — including the bloom filter, whose position-set
formulation is plain relational algebra.

Portable-hash discipline: DuckDB has no xxhash64 and Spark's ``hash`` is
engine-specific, so cross-engine pseudo-randomness derives from md5 hex
parsed 3 chars at a time via ``ascii()`` arithmetic (``_hex3``) — identical
SQL text evaluated by both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from batch_public_spark.operators.textops import (
    bigrams,
    normalized_text,
    pii_count,
    quality_score,
    redact_pii,
    tokens,
)
from batch_public_spark.plans.llmops_queries import (
    _GRAMS4,
    _NORM,
    _QUALITY_SQL,
    _TOKS_NORM,
)
from batch_public_spark.plans.registry import query
from batch_public_spark.sources.tables import cut
from batch_public_spark.sources.tables import inline_rows
from batch_public_spark.sources.tables import load_table as t
from batch_public_spark.sources.tables import spread


def _hexv(c: str) -> str:
    """SQL: value of one lowercase hex digit expression (engine-neutral —
    ``ascii`` arithmetic; Spark and RE2-era DuckDB agree on nothing fancier)."""
    return f"(CASE WHEN ascii({c}) <= 57 THEN ascii({c}) - 48 ELSE ascii({c}) - 87 END)"


def _hex3(h: str, start: int = 1) -> str:
    """SQL: parse 3 hex chars of string expression ``h`` at ``start`` →
    int in [0, 4096). The md5 inside ``h`` is textually repeated per char;
    both engines fold the duplicate subexpression, and the strings are
    tiny."""
    a = _hexv(f"substr({h}, {start}, 1)")
    b = _hexv(f"substr({h}, {start + 1}, 1)")
    c = _hexv(f"substr({h}, {start + 2}, 1)")
    return f"({a} * 256 + {b} * 16 + {c})"


def _bloom_pos(ch: str, k: int, m: int = 4096) -> str:
    """SQL: k-th bloom bit position of content-hash expression ``ch``."""
    inner = "md5(concat({}, ':{}'))".format(ch, k)
    return f"({_hex3(inner)} % {m})"


# ---------------------------------------------------------------------------
# Incremental bloom-gated dedup
# ---------------------------------------------------------------------------

_BLOOM_K = 3


@query(
    "llmops_bloom_dedup",
    oracle=f"""
    WITH d AS (SELECT doc_id, md5({_NORM}) AS ch FROM documents),
    h AS (SELECT * FROM d WHERE doc_id % 10 < 7),
    i AS (SELECT * FROM d WHERE doc_id % 10 >= 7),
    hp AS (SELECT DISTINCT unnest([{_bloom_pos('ch', 0)}, {_bloom_pos('ch', 1)},
                                   {_bloom_pos('ch', 2)}]) AS p FROM h),
    ip AS (SELECT doc_id, unnest([{_bloom_pos('ch', 0)}, {_bloom_pos('ch', 1)},
                                  {_bloom_pos('ch', 2)}]) AS p FROM i),
    f AS (SELECT ip.doc_id,
                 MIN(CASE WHEN hp.p IS NULL THEN 0 ELSE 1 END) = 1 AS probably_seen
          FROM ip LEFT JOIN hp USING (p) GROUP BY ip.doc_id),
    x AS (SELECT i.doc_id, hc.ch IS NOT NULL AS truly_dup
          FROM i LEFT JOIN (SELECT DISTINCT ch FROM h) hc ON i.ch = hc.ch)
    SELECT f.doc_id, probably_seen, truly_dup FROM f JOIN x USING (doc_id)
    """,
)
def llmops_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a historical corpus through a bloom-style
    membership gate: the history's content hashes set k=3 bit positions in
    an m=4096 bloom domain; an incoming doc is ``probably_seen`` iff all
    its positions are set. ``truly_dup`` (the exact semi-join answer) is
    emitted alongside, so the output exhibits the bloom contract: no false
    negatives, a few false positives (~fill³).

    The 100 TB shape this models: a PB-scale dedup ledger is too big to
    semi-join against every ingest batch, but its bloom bitmap (GB for
    billions of keys) BROADCASTS — each ingest partition probes locally and
    only the survivors proceed. That is built literally here: the history's
    positions pack into a 64×long bitmap (one row), the bitmap cross-join
    broadcasts onto the incoming scan, and the probe is three bit tests per
    row — no shuffle of the incoming side at all. The exact ``truly_dup``
    check (the very join the bloom avoids at scale) runs only so the
    output can exhibit the contract; the probe path never touches it."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(normalized_text(F.col("text"))).alias("ch")
    )
    pos = F.array(*[F.expr(_bloom_pos("ch", k)) for k in range(_BLOOM_K)])
    # Three consumers (bitmap build, exact-dup side, probe side) — cut the
    # normalize+md5 projection once, lazily (see the incremental query).
    d = d.withColumn("pos", pos).transform(cut)
    hist = d.filter(F.col("doc_id") % 10 < 7)
    inc = d.filter(F.col("doc_id") % 10 >= 7)
    return (
        inc.crossJoin(F.broadcast(_pos_bitmap(hist)))
        .withColumn("probably_seen", F.expr(_PROBE))
        .join(hist.select("ch").distinct().withColumn("_dup", F.lit(1)), "ch", "left")
        .select(
            "doc_id",
            "probably_seen",
            (F.coalesce(F.col("_dup"), F.lit(0)) == 1).alias("truly_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Hashed-feature linear quality classifier
# ---------------------------------------------------------------------------


def _tok_weight(var: str) -> str:
    """SQL: deterministic per-token classifier weight in [-2048, 2047] —
    the hashed-features trick (fasttext/VW style): the weight vector is a
    pure function of hash(token), so no vocabulary ships with the plan."""
    inner = "md5(concat('w:', {}))".format(var)
    return f"({_hex3(inner)} - 2048)"


def _reward(toks: str) -> Column:
    """BIGINT hashed-feature score of the token-array column ``toks``: the
    exact integer sum of the per-token weights, folded in-row (no shuffle,
    no float).

    Every caller but llmops_best_of_n_curve wraps its documents scan in
    spread(): tokenize + per-token md5 weights (+ the gate's quality_score
    for the calibration pairs) is per-row text compute over the 1-task
    fixture scan, and downstream lazy checkpoints materialize it at build
    time under AQE, so the serialized stage is paid inside fn(). No-op on a
    multi-file corpus (guide §2.5)."""
    return F.expr(
        f"aggregate(transform({toks}, t -> cast({_tok_weight('t')} as bigint)), "
        "0L, (acc, x) -> acc + x)"
    )


def _quality_prob(n_tokens: Column, w_sum: Column) -> Column:
    """llmops_quality_classifier's probability: the sigmoid of the
    length-normalized weight sum, 0.5 for an empty document, rounded to 6."""
    sig = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(w_sum.cast("double") / (n_tokens * F.lit(410.0))))
    )
    return F.round(F.when(n_tokens > 0, sig).otherwise(F.lit(0.5)), 6)


@query(
    "llmops_quality_classifier",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, {_TOKS_NORM} AS toks FROM documents),
    s AS (SELECT doc_id, source, len(toks) AS n_tokens,
                 CAST(COALESCE(list_sum(list_transform(toks, t -> {_tok_weight('t')})), 0)
                      AS BIGINT) AS w_sum
          FROM d)
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, w_sum,
           ROUND(CASE WHEN n_tokens > 0
                      THEN 1.0 / (1.0 + EXP(-(CAST(w_sum AS DOUBLE) / (n_tokens * 410.0))))
                      ELSE 0.5 END, 6) AS quality_prob,
           w_sum > 0 AS keep
    FROM s
    """,
)
def llmops_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, linear hashed-features form: each
    token's weight is a deterministic function of md5(token) (stand-in for
    trained fasttext/logreg weights — same plan, different constants); the
    document score is sigmoid of the length-normalized weight sum.

    Zero-shuffle: tokenize → per-token weight → per-row HOF ``aggregate``
    sum, all riding the scan inside codegen. The sum stays an exact BIGINT
    (weights are ints), so both engines agree exactly; only the final
    sigmoid goes floating-point, and ``keep`` compares the integer sum
    against 0 — no float at the decision boundary. At 100 TB this is the
    cheapest classifier there is: no model broadcast, no Python workers,
    no aggregation tree — a real trained-weights variant only adds a
    broadcast map lookup in place of the md5."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "source", "text")).withColumn(
        "toks", tokens(normalized_text(F.col("text")))
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.size("toks").cast("bigint").alias("n_tokens"),
            _reward("toks").alias("w_sum"),
        )
        .withColumn("quality_prob", _quality_prob(F.col("n_tokens"), F.col("w_sum")))
        .withColumn("keep", F.col("w_sum") > 0)
    )


def _calibration_pairs(spark: SparkSession, sf_dir: str, y_at: float) -> DataFrame:
    """(pd, y) per document for the calibration queries: pd is
    llmops_quality_classifier's probability as a DECIMAL(10,6), y is 1 when
    the independent rule-based gate (llmops_quality_filter's round-6
    score) reaches ``y_at``."""
    d = spread(t(spark, sf_dir, "documents").select("text")).withColumn(
        "toks", tokens(normalized_text(F.col("text")))
    )
    return d.select(
        F.size("toks").alias("n_tokens"),
        _reward("toks").alias("w_sum"),
        (F.round(quality_score(F.col("text")), 6).cast("decimal(10,6)") >= y_at)
        .cast("int")
        .alias("y"),
    ).select(
        _quality_prob(F.col("n_tokens"), F.col("w_sum")).cast("decimal(10,6)").alias("pd"),
        "y",
    )


@query(
    "eval_calibration_ece",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
    s AS (SELECT doc_id, len(toks) AS n_tokens,
                 CAST(COALESCE(list_sum(list_transform(toks, t -> {_tok_weight('t')})), 0)
                      AS BIGINT) AS w_sum
          FROM d),
    p AS (SELECT doc_id,
                 CAST(ROUND(CASE WHEN n_tokens > 0
                       THEN 1.0 / (1.0 + EXP(-(CAST(w_sum AS DOUBLE) / (n_tokens * 410.0))))
                       ELSE 0.5 END, 6) AS DECIMAL(10,6)) AS pd
          FROM s),
    q AS (SELECT doc_id,
                 CASE WHEN CAST(ROUND(least(n_tok / 50.0, 1.0) * 0.3
                        + greatest(0.0, 1.0 - pr * 4) * 0.3
                        + least(swr * 5, 1.0) * 0.2
                        + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0
                                THEN 1.0 ELSE 0.3 END) * 0.2, 6)
                      AS DECIMAL(10,6)) >= 0.5 THEN 1 ELSE 0 END AS y
          FROM ({_QUALITY_SQL}) m),
    j AS (SELECT p.pd, q.y FROM p JOIN q USING (doc_id)),
    b AS (SELECT least(CAST(floor(pd * 10) AS BIGINT), 9) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(pd) AS sum_p,
                 CAST(sum(y) AS BIGINT) AS pos
          FROM j GROUP BY 1),
    tot AS (SELECT round(CAST(sum(abs(sum_p - pos)) AS DOUBLE) / sum(n), 6)
                     AS ece
            FROM b),
    br AS (SELECT round(CAST(sum((pd - y) * (pd - y)) AS DOUBLE) / count(*), 6)
                    AS brier
           FROM j)
    SELECT bin, n AS n_docs,
           round(CAST(sum_p AS DOUBLE) / n, 6) AS mean_pred,
           round(CAST(pos AS DOUBLE) / n, 6) AS frac_pos,
           round(CAST(abs(sum_p - pos) AS DOUBLE) / n, 6) AS abs_gap,
           tot.ece, br.brier
    FROM b CROSS JOIN tot CROSS JOIN br
    """,
)
def eval_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER CALIBRATION — reliability diagram + Expected Calibration
    Error + Brier score (Guo et al. 2017's ECE over 10 equal-width
    probability bins): the audit a data team runs before swapping the
    rule-based quality gate for the cheap hashed classifier. Sibling of
    llmops_calibration_ece (eval_mining_queries.py), which demonstrates
    the diagram mechanics on a synthetic length-based confidence; THIS
    one calibrates the pipeline's real pieces against each other and
    adds the Brier score + an exact-decimal corpus ECE as attached
    scalars (the sibling emits per-bin ece_terms for the caller to
    sum). Prediction
    p̂ is llmops_quality_classifier's sigmoid probability (verbatim
    formula); the "outcome" y is the INDEPENDENT rule-based gate verdict
    (llmops_quality_filter's score ≥ 0.5) — two mechanisms that share no
    arithmetic, so the diagram measures real agreement, not an identity.
    Per bin: count, mean predicted probability, observed positive rate,
    |gap|; attached corpus scalars: ECE = Σ_b (n_b/N)·|gap_b| and the
    Brier score.

    Exactness trick worth stating: n_b·|mean_pred_b − frac_pos_b| ==
    |Σp̂ − Σy| per bin EXACTLY, and p̂ is a round-6 DECIMAL(10,6), so
    every ECE numerator is an exact decimal — the only doubles are one
    division per emitted column (the registry's standard discipline;
    a float Σ over bins would order-drift). Binning multiplies the
    DECIMAL by 10 and floors — no float near the bin boundary in either
    engine. Brier sums exact (p̂−y)² decimals the same way.

    Scale: one scan computes both mechanisms in-row (zero-shuffle
    scoring), one 10-key hash aggregation, two 1-row broadcast scalars.
    At 100 TB this replaces nothing — it IS the cheap way."""
    # feeds the bin agg AND the Brier agg
    scored = cut(_calibration_pairs(spark, sf_dir, 0.5))
    bins = (
        scored.groupBy(
            F.least(F.floor(F.col("pd") * 10).cast("bigint"), F.lit(9).cast("bigint")).alias(
                "bin"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("pd").alias("sum_p"),
            F.sum("y").cast("bigint").alias("pos"),
        )
        .transform(cut)  # per-bin rows AND the ECE scalar
    )
    ece = bins.agg(
        F.round(
            F.sum(F.abs(F.col("sum_p") - F.col("pos"))).cast("double") / F.sum("n"),
            6,
        ).alias("ece")
    )
    brier = scored.agg(
        F.round(
            F.sum((F.col("pd") - F.col("y")) * (F.col("pd") - F.col("y"))).cast(
                "double"
            )
            / F.count("*"),
            6,
        ).alias("brier")
    )
    return (
        bins.crossJoin(F.broadcast(ece))
        .crossJoin(F.broadcast(brier))
        .select(
            "bin",
            F.col("n").alias("n_docs"),
            F.round(F.col("sum_p").cast("double") / F.col("n"), 6).alias("mean_pred"),
            F.round(F.col("pos").cast("double") / F.col("n"), 6).alias("frac_pos"),
            F.round(
                F.abs(F.col("sum_p") - F.col("pos")).cast("double") / F.col("n"), 6
            ).alias("abs_gap"),
            "ece",
            "brier",
        )
    )


@query(
    "eval_isotonic_calibration",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
    s AS (SELECT doc_id, len(toks) AS n_tokens,
                 CAST(COALESCE(list_sum(list_transform(toks, t -> {_tok_weight('t')})), 0)
                      AS BIGINT) AS w_sum
          FROM d),
    p AS (SELECT doc_id,
                 CAST(ROUND(CASE WHEN n_tokens > 0
                       THEN 1.0 / (1.0 + EXP(-(CAST(w_sum AS DOUBLE) / (n_tokens * 410.0))))
                       ELSE 0.5 END, 6) AS DECIMAL(10,6)) AS pd
          FROM s),
    q AS (SELECT doc_id,
                 CASE WHEN CAST(ROUND(least(n_tok / 50.0, 1.0) * 0.3
                        + greatest(0.0, 1.0 - pr * 4) * 0.3
                        + least(swr * 5, 1.0) * 0.2
                        + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0
                                THEN 1.0 ELSE 0.3 END) * 0.2, 6)
                      AS DECIMAL(10,6)) >= 0.85 THEN 1 ELSE 0 END AS y
          FROM ({_QUALITY_SQL}) m),
    j AS (SELECT p.pd, q.y FROM p JOIN q USING (doc_id)),
    b AS (SELECT least(CAST(floor(pd * 10) AS BIGINT), 9) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS pos
          FROM j GROUP BY 1),
    arr AS (
      SELECT list(bin ORDER BY bin) AS bs,
             list(n ORDER BY bin) AS ns,
             list(pos ORDER BY bin) AS ps
      FROM b
    ), iso AS (
      SELECT bs, ns, ps,
             list_transform(generate_series(1, len(bs)), i ->
               list_max(list_transform(generate_series(1, i), j2 ->
                 list_min(list_transform(generate_series(i, len(bs)), k ->
                   CAST(list_sum(ps[j2:k]) AS DOUBLE)
                     / CAST(list_sum(ns[j2:k]) AS DOUBLE)))))) AS iso
      FROM arr
    )
    SELECT bs[g.i] AS bin, ns[g.i] AS n_docs, ps[g.i] AS n_pos,
           round(CAST(ps[g.i] AS DOUBLE) / ns[g.i], 6) AS emp_rate,
           round(iso[g.i], 6) AS iso_rate
    FROM iso, unnest(generate_series(1, len(bs))) AS g(i)
    """,
)
def eval_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC-REGRESSION calibration (pool-adjacent-violators;
    Zadrozny & Elkan 2002) over eval_calibration_ece's reliability
    diagram — the CALIBRATOR the diagram's diagnosis calls for: ECE
    measures miscalibration, isotonic regression FIXES it, and it is
    the production choice (Platt scaling needs an optimizer; PAV is
    closed-form and deterministic). Same pd/y construction as the ECE
    query (classifier sigmoid vs the independent rule-gate verdict --
    thresholded at 0.85, the fixture's median quality, because the ECE
    sibling's 0.5 gate passes every fixture doc and an all-ones label
    makes any calibrator vacuous), same 10 equal-width bins; the fit is the weighted isotonic
    regression of the per-bin positive rates, computed by the MINIMAX
    characterization iso_i = max_{j<=i} min_{k>=i} mean(y over bins
    j..k) — mathematically identical to running PAV, but a pure
    nested-lambda expression over the <= 10-bin arrays that both
    engines evaluate bit-identically (a sequential pool-merge loop has
    no SQL form; tests/test_curation.py additionally re-runs
    REAL sequential PAV in Python and matches every iso_rate).

    Parity discipline: bin counts n/pos are exact BIGINTs; every
    segment mean is ONE double division of exact integer slice-sums
    (identical operands both engines — Spark's slice+aggregate fold ==
    DuckDB's list slice + list_sum); max/min over identical doubles;
    round-6 only at emission.

    Scale shape: identical to the ECE query — one in-row scoring scan,
    ONE 10-key hash aggregation; the isotonic fit itself runs on a
    single 1-row frame of 10-element arrays (10^3 slice-sums of <= 10
    elements: control-plane arithmetic, no join, no window, no
    shuffle). At 100 TB the diagram aggregation is the only data-sized
    stage, unchanged from ECE."""
    bins = _calibration_pairs(spark, sf_dir, 0.85).groupBy(
        F.least(F.floor(F.col("pd") * 10).cast("bigint"), F.lit(9).cast("bigint")).alias(
            "bin"
        )
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    arr = (
        bins.agg(F.array_sort(F.collect_list(F.struct("bin", "n", "pos"))).alias("a"))
        .select(
            F.expr("transform(a, x -> x.bin)").alias("bs"),
            F.expr("transform(a, x -> x.n)").alias("ns"),
            F.expr("transform(a, x -> x.pos)").alias("ps"),
        )
        # An empty diagram must yield zero rows, and Spark's
        # sequence(1, 0) is the DESCENDING [1, 0], not [] — filter
        # before any sequence() touches the empty arrays.
        .filter(F.size("bs") > 0)
    )
    iso = F.expr(
        """
        transform(sequence(1, size(bs)), i ->
          array_max(transform(sequence(1, i), j ->
            array_min(transform(sequence(i, size(bs)), k ->
              cast(aggregate(slice(ps, j, k - j + 1), 0L, (acc, x) -> acc + x)
                   as double)
              / cast(aggregate(slice(ns, j, k - j + 1), 0L, (acc, x) -> acc + x)
                     as double))))))
        """
    )
    return (
        arr.select("bs", "ns", "ps", iso.alias("iso"))
        .select(
            F.expr("explode(sequence(1, size(bs)))").alias("i"),
            "bs",
            "ns",
            "ps",
            "iso",
        )
        .select(
            F.expr("element_at(bs, i)").alias("bin"),
            F.expr("element_at(ns, i)").alias("n_docs"),
            F.expr("element_at(ps, i)").alias("n_pos"),
            F.round(
                F.expr("cast(element_at(ps, i) as double) / element_at(ns, i)"), 6
            ).alias("emp_rate"),
            F.round(F.expr("element_at(iso, i)"), 6).alias("iso_rate"),
        )
    )


@query(
    "eval_platt_scaling",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
    s AS (SELECT doc_id, len(toks) AS n_tokens,
                 CAST(COALESCE(list_sum(list_transform(toks, t -> {_tok_weight('t')})), 0)
                      AS BIGINT) AS w_sum
          FROM d),
    p AS (SELECT doc_id,
                 CAST(ROUND(CASE WHEN n_tokens > 0
                       THEN 1.0 / (1.0 + EXP(-(CAST(w_sum AS DOUBLE) / (n_tokens * 410.0))))
                       ELSE 0.5 END, 6) AS DECIMAL(10,6)) AS pd
          FROM s),
    q AS (SELECT doc_id,
                 CASE WHEN CAST(ROUND(least(n_tok / 50.0, 1.0) * 0.3
                        + greatest(0.0, 1.0 - pr * 4) * 0.3
                        + least(swr * 5, 1.0) * 0.2
                        + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0
                                THEN 1.0 ELSE 0.3 END) * 0.2, 6)
                      AS DECIMAL(10,6)) >= 0.85 THEN 1 ELSE 0 END AS y
          FROM ({_QUALITY_SQL}) m),
    j AS (SELECT p.pd,
                 CAST(round(ln(CAST(p.pd AS DOUBLE) / (1.0 - CAST(p.pd AS DOUBLE))), 6)
                      AS DECIMAL(18,6)) AS z,
                 q.y
          FROM p JOIN q USING (doc_id)),
    terms AS (
      SELECT pd, y, z,
             CAST(pd AS DOUBLE) * (1.0 - CAST(pd AS DOUBLE)) AS wd,
             CAST(z AS DOUBLE) AS zd
      FROM j
    ), tq AS (
      SELECT CAST(round(wd, 10) AS DECIMAL(28,10)) AS tw,
             CAST(round(wd * zd, 10) AS DECIMAL(28,10)) AS twz,
             CAST(round((wd * zd) * zd, 10) AS DECIMAL(28,10)) AS twzz,
             pd - y AS pmy,
             (pd - y) * z AS pmyz
      FROM terms
    ), m2 AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(tw) AS DOUBLE) AS sw,
             CAST(sum(twz) AS DOUBLE) AS swz,
             CAST(sum(twzz) AS DOUBLE) AS swzz,
             CAST(sum(pmy) AS DOUBLE) AS g0,
             CAST(sum(pmyz) AS DOUBLE) AS g1
      FROM tq
    )
    SELECT n AS n_docs,
           round(1.0 - (sw * g1 - swz * g0)
                 / nullif(swzz * sw - swz * swz, 0), 6) AS slope_a,
           round(0.0 - (swzz * g0 - swz * g1)
                 / nullif(swzz * sw - swz * swz, 0), 6) AS intercept_b,
           round(g1, 6) AS grad_a,
           round(g0, 6) AS grad_b
    FROM m2
    """,
)
def eval_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLATT SCALING, one Newton step (Platt 1999; the parametric
    calibrator beside eval_isotonic_calibration's nonparametric PAV and
    eval_calibration_ece's diagnosis — diagnose / fit-monotone /
    fit-sigmoid is the complete calibration kit): recalibrate
    p_cal = sigmoid(a*z + b) on the logit z = ln(pd/(1-pd)) of the
    classifier's probability, fitting (a, b) by ONE Newton step of the
    logistic log-loss from the identity start (a,b) = (1,0) — where the
    gradient is g = sum (pd - y)·[z, 1] and the Hessian is the weighted
    moment matrix of w = pd(1-pd), both EXACT sums, so the 2x2 solve
    [da, db] = H^-1 g is closed-form:
    a1 = 1 - (Sw*g1 - Swz*g0)/det, b1 = -(Swzz*g0 - Swz*g1)/det,
    det = Swzz*Sw - Swz^2. The standard first iterate a production
    calibration job ships when it refuses an iterative optimizer in
    SQL; the raw gradients are emitted so a caller can verify the
    step direction. tests/test_curation.py re-runs the algebra in
    Python and checks the step REDUCES the training log-loss (the
    Newton-descent property at a smooth convex start).

    Parity discipline: pd is the round-6 DECIMAL(10,6) sigmoid (the
    ECE construction, verbatim, with the same 0.85 label split);
    z is ln of identical doubles quantized round-6 decimal; gradient
    terms (pd-y) and (pd-y)*z are exact decimal products, and the
    Hessian terms w, wz, wz^2 are single identically-parenthesized
    double chains quantized round-10 per TERM before exact decimal
    summation (a raw decimal w*z*z chain exceeds precision 38, where
    the engines' overflow scale reductions diverge); the 2x2 solve
    runs on identical doubles, nullif-guarded against a degenerate
    (constant-z) design.

    Scale shape: ONE map-side-combinable aggregation over the in-row
    scoring scan — six moment columns, no shuffle beyond the 1-row
    aggregate. The cheapest possible calibrator at 100 TB."""
    jj = _calibration_pairs(spark, sf_dir, 0.85).select(
        "pd",
        F.round(
            F.log(F.col("pd").cast("double") / (F.lit(1.0) - F.col("pd").cast("double"))),
            6,
        )
        .cast("decimal(18,6)")
        .alias("z"),
        "y",
    )
    # Per-term double products quantized round-10 before the exact
    # decimal sums (the ngram-lm lt discipline): a raw decimal
    # w*z*z chain exceeds precision 38 and the engines reduce scale
    # differently (the jackknife th*th lesson).
    wd = F.col("pd").cast("double") * (F.lit(1.0) - F.col("pd").cast("double"))
    zd = F.col("z").cast("double")
    tq = jj.select(
        F.round(wd, 10).cast("decimal(28,10)").alias("tw"),
        F.round(wd * zd, 10).cast("decimal(28,10)").alias("twz"),
        F.round((wd * zd) * zd, 10).cast("decimal(28,10)").alias("twzz"),
        (F.col("pd") - F.col("y")).alias("pmy"),
        ((F.col("pd") - F.col("y")) * F.col("z")).alias("pmyz"),
    )
    m2 = tq.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("tw").cast("double").alias("sw"),
        F.sum("twz").cast("double").alias("swz"),
        F.sum("twzz").cast("double").alias("swzz"),
        F.sum("pmy").cast("double").alias("g0"),
        F.sum("pmyz").cast("double").alias("g1"),
    )
    det = F.nullif(
        F.col("swzz") * F.col("sw") - F.col("swz") * F.col("swz"), F.lit(0.0)
    )
    return m2.select(
        F.col("n").alias("n_docs"),
        F.round(
            F.lit(1.0)
            - (F.col("sw") * F.col("g1") - F.col("swz") * F.col("g0")) / det,
            6,
        ).alias("slope_a"),
        F.round(
            F.lit(0.0)
            - (F.col("swzz") * F.col("g0") - F.col("swz") * F.col("g1")) / det,
            6,
        ).alias("intercept_b"),
        F.round("g1", 6).alias("grad_a"),
        F.round("g0", 6).alias("grad_b"),
    )


# ---------------------------------------------------------------------------
# Sliding-window chunking
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 16, 12  # tiny windows for the ~30-token synthetic docs;
# production RAG/embedding chunking uses e.g. 512/384 — same plan, free params.


@query(
    "llmops_chunk_documents",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
    n AS (SELECT doc_id, toks, len(toks) AS n FROM d)
    SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
           CAST(k * {_STRIDE} AS BIGINT) AS chunk_start,
           CAST(LEAST({_CHUNK}, n - k * {_STRIDE}) AS BIGINT) AS chunk_len,
           md5(array_to_string(toks[k * {_STRIDE} + 1 : k * {_STRIDE} + {_CHUNK}], ' '))
             AS chunk_md5
    FROM n, UNNEST(range(0, GREATEST(CAST(CEIL(n / {_STRIDE}.0) AS BIGINT), 1))) AS u(k)
    """,
)
def llmops_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (the RAG/embedding prep step):
    each document's token stream is cut into windows of {chunk} tokens at
    stride {stride} (overlap {chunk}-{stride}); one output row per chunk
    with its offset, length, and content digest.

    Per-row multiplicative generate — ``sequence`` + ``explode`` + array
    ``slice``, no shuffle, no UDF; the expansion factor is bounded by
    doc_len/stride so executors never materialize more than one doc's
    chunks at a time. This is the plan shape that feeds the ANN/embedding
    family downstream (chunks → embed → index)."""
    d = t(spark, sf_dir, "documents").withColumn(
        "toks", tokens(normalized_text(F.col("text")))
    )
    d = d.withColumn("n", F.size("toks"))
    n_chunks = F.greatest(F.ceil(F.col("n") / F.lit(float(_STRIDE))).cast("int"), F.lit(1))
    d = d.withColumn("k", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
    start = F.col("k") * _STRIDE
    return d.select(
        "doc_id",
        F.col("k").cast("bigint").alias("chunk_idx"),
        start.cast("bigint").alias("chunk_start"),
        F.least(F.lit(_CHUNK), F.col("n") - start).cast("bigint").alias("chunk_len"),
        F.md5(F.array_join(F.slice("toks", start + 1, _CHUNK), " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling (exponential race / A-ES)
# ---------------------------------------------------------------------------

_WS_SPARK_H = "md5(concat(cast(doc_id as string), ':ws'))"
_WS_DUCK_H = "md5(doc_id || ':ws')"


def _ws_u(h: str) -> str:
    """SQL: seeded uniform in (0, 1] from 24 bits of md5 — exact integer
    numerator, one final double divide (engine-identical)."""
    return f"(({_hex3(h, 1)} * 4096 + {_hex3(h, 4)} + 1) / 16777216.0)"


@query(
    "llmops_weighted_sample",
    oracle=f"""
    SELECT doc_id, source, n_chars,
           ROUND(-LN({_ws_u(_WS_DUCK_H)}) / n_chars, 9) AS sample_key
    FROM documents
    ORDER BY -LN({_ws_u(_WS_DUCK_H)}) / n_chars, doc_id
    LIMIT 50
    """,
)
def llmops_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, exponential-race form
    (Efraimidis–Spirakis A-ES): key = -ln(u)/weight with a seeded
    per-doc uniform; the global smallest-k keys ARE a weighted sample
    without replacement (here weight = n_chars — length-proportional, the
    common token-budget sampler). Deterministic: u derives from md5, so
    reruns pick identical docs (``sample()``/TABLESAMPLE cannot promise
    that across partition changes).

    ORDER BY + LIMIT k is a TakeOrdered top-k: per-partition heaps of k
    rows, one k-row merge at the driver — no global sort materializes at
    any scale. The uniform's 24-bit numerator is exact in both engines;
    -ln/÷ are one libm call apiece, rounded to 1e-9 (key gaps at corpus
    scale are ~1e-6)."""
    u = F.expr(_ws_u(_WS_SPARK_H))
    key = -F.log(u) / F.col("n_chars")
    return (
        t(spark, sf_dir, "documents")
        # Efraimidis–Spirakis requires weight > 0: a zero/NULL-length doc
        # is unsampleable by definition (pathological gate); the filter
        # never binds on real data — every fixture doc has n_chars >= 1
        .filter(F.col("n_chars") > 0)
        .select("doc_id", "source", "n_chars", key.alias("_key"))
        .orderBy("_key", "doc_id")
        .limit(50)
        .select("doc_id", "source", "n_chars", F.round("_key", 9).alias("sample_key"))
    )


# ---------------------------------------------------------------------------
# Cross-source contamination matrix
# ---------------------------------------------------------------------------


@query(
    "llmops_source_overlap",
    oracle=f"""
    WITH g AS (SELECT DISTINCT source, unnest({_GRAMS4}) AS gram FROM documents),
    s AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source)
    SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared,
           sa.n AS n_a, sb.n AS n_b,
           ROUND(CAST(COUNT(*) AS DOUBLE) / (sa.n + sb.n - COUNT(*)), 6)
             AS overlap_jaccard
    FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
    JOIN s sa ON sa.source = a.source
    JOIN s sb ON sb.source = b.source
    GROUP BY a.source, b.source, sa.n, sb.n
    """,
)
def llmops_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source contamination: word-4-gram Jaccard between
    every pair of sources (which crawls/dumps overlap, the question asked
    before mixing a new source into a training corpus).

    The oracle's naive form is a gram self-join; the Spark plan avoids the
    self-join's double subtree evaluation (and its corpus×corpus shuffle):
    ONE distinct over (source, gram), then ``collect_set`` per gram and
    in-array pair combinatorics — the bucket_pairs trick from the MinHash
    family. Shuffle volume is O(distinct grams), source-count lists are
    ≤ |sources| long, and per-source totals broadcast onto the ~|sources|²
    result rows."""
    from batch_public_spark.operators.semantic import word_shingles

    # spread(): the 4-gram shingle explode is per-row text compute over
    # the 1-task fixture scan (guide §2.5); no-op at scale.
    d = spread(t(spark, sf_dir, "documents").select("source", "text"))

    grams = d.select(
        "source", F.explode(word_shingles(F.col("text"), 4)).alias("gram")
    ).distinct()
    by_gram = (
        grams.groupBy("gram")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        # two consumers (sizes + pairs): cut once, lazily, instead of
        # betting on runtime exchange reuse to dedupe the corpus shingle
        # explode under both branches
        .transform(cut)
    )
    # Per-source totals derive from by_gram (not a second pass over grams);
    # |srcs| sums to exactly the distinct (source, gram) count.
    sizes = (
        by_gram.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        by_gram.filter(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (x, i) -> "
                    "transform(slice(srcs, i + 2, size(srcs)), "
                    "y -> struct(x AS src_a, y AS src_b))))"
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
    )
    inter = pairs.groupBy("src_a", "src_b").agg(F.count("*").alias("n_shared"))
    a = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    b = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(a), "src_a")
        .join(F.broadcast(b), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("overlap_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction (oracle-checked on synthesized PII)
# ---------------------------------------------------------------------------

# RE2-safe mirrors of the first two PII_RULES (textops.py) — the card/phone
# rules can't fire on this synthesis (no residual digits), so the oracle's
# 2-rule replay equals the engine's full 4-rule chain. The phone rule's
# lookbehind is Java-regex-only, which is WHY the oracle synthesizes only
# email+SSN shapes.
_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_SSN_PAT = r"\b\d{3}-\d{2}-\d{4}\b"

_PII_ORACLE = (
    """
    WITH s AS (
      SELECT doc_id,
             text || ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-45-6789 mail u' || CAST(doc_id % 100 AS VARCHAR)
                  || '@example.com' AS synth
      FROM documents),
    r1 AS (SELECT doc_id,
                  regexp_replace(synth, '__EMAIL__', '<EMAIL>', 'g') AS t1,
                  CAST(len(regexp_extract_all(synth, '__EMAIL__')) AS BIGINT) AS c1
           FROM s),
    r2 AS (SELECT doc_id, c1,
                  regexp_replace(t1, '__SSN__', '<SSN>', 'g') AS t2,
                  CAST(len(regexp_extract_all(t1, '__SSN__')) AS BIGINT) AS c2
           FROM r1)
    SELECT doc_id, c1 + c2 AS n_pii, md5(t2) AS redacted_md5 FROM r2
    """.replace("__EMAIL__", _EMAIL_PAT)
    .replace("__SSN__", _SSN_PAT)
)


@query("llmops_pii_redact", oracle=_PII_ORACLE)
def llmops_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction as a declared, hash-checked query: the digit-free
    synthetic corpus gets a deterministic SSN + email appended per doc
    (PII shape varies with doc_id), then the full 4-rule
    ``textops.redact_pii`` chain runs and the redacted digest + PII count
    come back.

    All native ``regexp_replace``/``regexp_count`` chained in codegen —
    at 100 TB, redaction rides the ingest scan exactly like the quality
    filters; no UDF, no shuffle (the reference has no PII surface — this
    is north-star hygiene per BASELINE.json)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" ssn "),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-45-6789 mail u"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit("@example.com"),
        ).alias("synth"),
    )
    return d.select(
        "doc_id",
        pii_count(F.col("synth")).alias("n_pii"),
        F.md5(redact_pii(F.col("synth"))).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Round-4: bloom STATE carried across successive ingests (daily cadence)
# ---------------------------------------------------------------------------

_POS3 = "[{}, {}, {}]".format(
    _bloom_pos("ch", 0), _bloom_pos("ch", 1), _bloom_pos("ch", 2)
)


def _pos_bitmap(pos_df: DataFrame) -> DataFrame:
    """Position set → one-row 4096-bit bitmap (array of 64 longs)."""
    return (
        pos_df.select(F.explode("pos").alias("p"))
        .agg(F.collect_set("p").alias("hp"))
        .select(
            F.expr(
                "transform(sequence(0, 63), w -> "
                "aggregate(filter(hp, p -> p div 64 = w), 0L, "
                "(acc, p) -> acc | shiftleft(1L, cast(p % 64 as int))))"
            ).alias("bits")
        )
    )


_PROBE = (
    "forall(pos, p -> (element_at(bits, cast(p div 64 as int) + 1) "
    "& shiftleft(1L, cast(p % 64 as int))) != 0)"
)


@query(
    "llmops_bloom_incremental_roundtrip",
    oracle=f"""
    WITH d AS (SELECT doc_id, md5({_NORM}) AS ch FROM documents),
    d0 AS (SELECT * FROM d WHERE doc_id % 10 < 6),
    d1 AS (SELECT * FROM d WHERE doc_id % 10 IN (6, 7)),
    d2 AS (SELECT * FROM d WHERE doc_id % 10 >= 8),
    p0 AS (SELECT DISTINCT unnest({_POS3}) AS p FROM d0),
    p1 AS (SELECT doc_id, unnest({_POS3}) AS p FROM d1),
    f1 AS (SELECT p1.doc_id,
                  MIN(CASE WHEN p0.p IS NULL THEN 0 ELSE 1 END) = 1 AS probably_seen
           FROM p1 LEFT JOIN p0 USING (p) GROUP BY p1.doc_id),
    s1 AS (SELECT d1.doc_id, d1.ch FROM d1 JOIN f1 USING (doc_id)
           WHERE NOT f1.probably_seen),
    p01 AS (SELECT p FROM p0 UNION SELECT unnest({_POS3}) AS p FROM s1),
    p2 AS (SELECT doc_id, unnest({_POS3}) AS p FROM d2),
    f2 AS (SELECT p2.doc_id,
                  MIN(CASE WHEN q.p IS NULL THEN 0 ELSE 1 END) = 1 AS probably_seen
           FROM p2 LEFT JOIN p01 q USING (p) GROUP BY p2.doc_id)
    SELECT doc_id, CAST(1 AS BIGINT) AS ingest_day, probably_seen FROM f1
    UNION ALL
    SELECT doc_id, CAST(2 AS BIGINT) AS ingest_day, probably_seen FROM f2
    """,
)
def llmops_bloom_incremental_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ledger state carried across TWO simulated daily ingests — the
    100 TB incremental-corpus story end to end. Day 0 is history; day 1
    probes the history bloom and its survivors are merged INTO the bloom;
    day 2 probes the UPDATED bloom. Output is every probed doc's
    (ingest_day, probably_seen) decision, fully oracle-replicated (the
    bloom is md5-position arithmetic both engines compute identically).

    Scale shape: the carried state is the one-row 64×long bitmap — at
    production sizing (billions of keys → GB of bits, still one row of
    longs) it persists to the lake between runs and BROADCASTS onto each
    day's scan; merging a day's survivors is a bitwise OR of bitmap rows,
    never a rescan of history. Each ingest shuffles nothing: probe is
    three bit tests per row against the broadcast state. (Here the merge
    unions position sets before re-packing — same associative OR.)"""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(normalized_text(F.col("text"))).alias("ch")
    )
    d = d.withColumn("pos", F.array(*[F.expr(_bloom_pos("ch", k)) for k in range(_BLOOM_K)]))
    # The normalize+md5+position projection feeds FIVE plan branches (two
    # bitmap builds, two probes, the survivor filter); cut it once so the
    # regex normalization runs one time, not per branch. Lazy: the first
    # broadcast-build job materializes it, no dedicated cut job.
    d = cut(d)
    day0 = d.filter(F.col("doc_id") % 10 < 6)
    day1 = d.filter((F.col("doc_id") % 10).isin(6, 7))
    day2 = d.filter(F.col("doc_id") % 10 >= 8)

    probed1 = (
        day1.crossJoin(F.broadcast(_pos_bitmap(day0)))
        .withColumn("probably_seen", F.expr(_PROBE))
        .select("doc_id", "pos", "probably_seen")
    )
    survivors1 = probed1.filter(~F.col("probably_seen")).select("pos")
    state1 = _pos_bitmap(day0.select("pos").unionByName(survivors1))
    probed2 = (
        day2.crossJoin(F.broadcast(state1))
        .withColumn("probably_seen", F.expr(_PROBE))
        .select("doc_id", "probably_seen")
    )
    return probed1.select(
        "doc_id", F.lit(1).cast("bigint").alias("ingest_day"), "probably_seen"
    ).unionByName(
        probed2.select("doc_id", F.lit(2).cast("bigint").alias("ingest_day"), "probably_seen")
    )


# ---------------------------------------------------------------------------
# Corpus curation: per-domain quotas, leakage-safe splits, stratified
# sampling, intra-document repetition (round-6 additions)
# ---------------------------------------------------------------------------


@query(
    "llmops_domain_quota_cap",
    oracle="""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <= 10 THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars,
           CAST(sum(CASE WHEN rn > 10 THEN n_chars ELSE 0 END) AS BIGINT)
             AS dropped_chars
    FROM ranked GROUP BY source
    """,
)
def llmops_domain_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document quota (keep the best 10 per source, score =
    length with id tie-break) — the crawl-curation cap that stops a
    single boilerplate-heavy domain from dominating the training mix
    (the CommonCrawl-pipeline counterpart of the per-bucket posting cap
    in minhash_candidates).

    Spark-first: ONE window ranked per source (the window key IS the
    shuffle key, so the rank never sees more than a domain's docs in a
    partition — skew-bounded by the largest domain, the same bound the
    downstream cap enforces) and one aggregation on the identical key —
    at scale the second shuffle disappears into the first's
    partitioning. Kept/dropped char mass is reported per domain so the
    cap's cost is observable."""
    d = t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    ranked = d.select("source", "n_chars", F.row_number().over(w).alias("rn"))
    kept = F.col("rn") <= 10
    return ranked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
        F.sum(F.when(~kept, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("dropped_chars"),
    )


@query(
    "llmops_group_split_leakage_safe",
    oracle="""
    WITH tagged AS (
      SELECT source, n_chars,
             CASE WHEN substr(md5(source), 1, 1) IN ('c', 'd') THEN 'val'
                  WHEN substr(md5(source), 1, 1) IN ('e', 'f') THEN 'test'
                  ELSE 'train' END AS split
      FROM documents
    )
    SELECT split,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM tagged GROUP BY split
    """,
)
def llmops_group_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-level train/val/test split: the assignment hashes the SOURCE
    (md5 first hex digit), not the document — every domain lands wholly
    in one split, so near-duplicate documents from the same domain can
    never straddle the train/eval boundary (the leakage mode a doc-level
    split like llmops_train_val_test_split cannot prevent). Same
    immovable-assignment property: a domain never migrates as the corpus
    grows.

    Spark-first: shuffle-free tag (the hash is a row-local expression)
    + one aggregation; the distinct-source count rides the same shuffle
    as the group-by. Reported per split so the 17/1/2-domain imbalance
    of a small fixture is visible — group splits trade balance for
    safety, and that trade should be measured."""
    d = t(spark, sf_dir, "documents")
    h1 = F.substring(F.md5(F.col("source")), 1, 1)
    split = (
        F.when(h1.isin("c", "d"), "val")
        .when(h1.isin("e", "f"), "test")
        .otherwise("train")
    )
    return (
        d.select("source", "n_chars", split.alias("split"))
        .groupBy("split")
        .agg(
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "llmops_stratified_sample_exact",
    oracle="""
    WITH ranked AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS sz
      FROM documents
    )
    SELECT lang,
           CAST(max(sz) AS BIGINT) AS n_stratum,
           CAST(sum(CASE WHEN rn <= (sz + 4) // 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(sum(CASE WHEN rn <= (sz + 4) // 5 THEN n_chars ELSE 0 END)
                AS BIGINT) AS sampled_chars
    FROM ranked GROUP BY lang
    """,
)
def llmops_stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sample: ceil(20%) of every language stratum,
    selected by md5(doc_id) rank — per-stratum counts are EXACT (unlike
    ``sampleBy``'s Bernoulli draws, which only hit the fraction in
    expectation and drift on small strata) and the selection is
    deterministic/immovable across runs, engines, and partitionings.

    Spark-first: one window per stratum (rank and stratum size share the
    same partition key, so both ride one shuffle; integer-exact ceil via
    ``(sz + 4) div 5``) + one aggregation on the same key. The rank is
    skew-bounded by the largest stratum — the same shape as the
    per-domain quota cap above."""
    d = t(spark, sf_dir, "documents")
    w = W.partitionBy("lang")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number()
        .over(w.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
        .alias("rn"),
        F.count("*").over(w).alias("sz"),
    )
    sampled = F.col("rn") <= F.expr("(sz + 4) div 5")
    return ranked.groupBy("lang").agg(
        F.max("sz").cast("bigint").alias("n_stratum"),
        F.sum(F.when(sampled, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        F.sum(F.when(sampled, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("sampled_chars"),
    )


@query(
    "llmops_intradoc_repetition",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), tg AS (
      SELECT doc_id, lang,
             list_transform(generate_series(1, len(toks) - 2),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               AS grams
      FROM base WHERE len(toks) >= 3
    ), per_doc AS (
      SELECT doc_id, lang,
             CAST(round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
                  AS DECIMAL(18,6)) AS rep
      FROM tg
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(rep) AS DOUBLE) / count(*), 6) AS avg_repetition,
           round(CAST(max(rep) AS DOUBLE), 6) AS max_repetition
    FROM per_doc GROUP BY lang
    """,
)
def llmops_intradoc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document trigram repetition (1 − distinct/total word
    trigrams) per language — the Gopher/C4-style self-repetition signal
    that flags template/boilerplate documents BEFORE any cross-document
    dedup sees them (a doc that repeats itself inflates every
    shingle-based similarity downstream).

    Spark-first: the trigram multiset is built IN-ROW from the token
    array (index-sequence transform — no explode of the gram stream, so
    nothing shuffles at gram granularity; the corpus-wide gram explode
    the countmin/novelty queries need is exactly what this per-doc
    statistic avoids). Per-doc ratios round at 1e-6 into DECIMAL before
    the per-language mean so the aggregate is partitioning-independent."""
    d = t(spark, sf_dir, "documents")
    tk = tokens(F.lower(F.col("text")))
    base = d.select("doc_id", "lang", tk.alias("toks")).filter(F.size("toks") >= 3)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at("toks", i),
            F.element_at("toks", i + F.lit(1)),
            F.element_at("toks", i + F.lit(2)),
        ),
    )
    per_doc = base.select(
        "lang",
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)) / F.size(grams).cast("double"),
            6,
        )
        .cast("decimal(18,6)")
        .alias("rep"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.sum("rep").cast("double") / F.count("*"), 6).alias("avg_repetition"),
        F.round(F.max("rep").cast("double"), 6).alias("max_repetition"),
    )


@query(
    "llmops_importance_resample",
    oracle="""
    WITH ranked AS (
      SELECT source, n_chars,
             sum(n_chars) OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n_chars) OVER (PARTITION BY source) AS tot
      FROM documents
    )
    SELECT source,
           CAST(sum(CASE WHEN (cum * 5) // tot > ((cum - n_chars) * 5) // tot
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           CAST(sum(CASE WHEN (cum * 5) // tot > ((cum - n_chars) * 5) // tot
                         THEN n_chars ELSE 0 END) AS BIGINT) AS selected_chars
    FROM ranked GROUP BY source
    """,
)
def llmops_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic length-weighted resampling, k=5 per source: walk each
    source's docs in deterministic md5 order accumulating weight
    (n_chars) and pick the doc wherever the cumulative weight crosses a
    multiple of total/5 — probability-proportional-to-size sampling with
    exactly k picks per group whenever no single doc carries ≥ 1/k of
    the group's mass (a heavier doc absorbs several strides but is
    selected once — the without-replacement convention; the property
    test in tests/test_properties.py pins both the k-stride partition
    and this cap). Zero randomness state: the md5 walk is the "random"
    order, and reruns and engines agree bit-for-bit because the
    crossing test is pure integer arithmetic — no total/5 division ever
    materializes as a double.

    Spark-first: one window pair per source (running sum + group total
    share the partition key and one shuffle) + one aggregation on the
    same key — the same skew-bounded per-group shape as the quota cap
    and stratified sample. A GLOBAL systematic resample would need an
    unpartitioned running sum (the plan linter rightly rejects that
    shape); per-group quotas are both scale-safe and what a mixture
    pipeline actually wants."""
    d = t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = d.select(
        "source",
        "n_chars",
        F.sum("n_chars").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.sum("n_chars").over(W.partitionBy("source")).alias("tot"),
    )
    crossed = F.expr("(cum * 5) div tot > ((cum - n_chars) * 5) div tot")
    return ranked.groupBy("source").agg(
        F.sum(F.when(crossed, 1).otherwise(0)).cast("bigint").alias("n_selected"),
        F.sum(F.when(crossed, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("selected_chars"),
    )


@query(
    "llmops_curriculum_phases",
    oracle="""
    WITH lens AS (
      SELECT doc_id,
             length(list_filter(string_split_regex(trim(text), '\\s+'),
                    x -> x <> '')) AS tok
      FROM documents
    ),
    grid AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM lens GROUP BY tok
    ),
    cum AS (
      SELECT tok, cnt,
             CAST(coalesce(sum(cnt) OVER (ORDER BY tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_prev,
             (SELECT CAST(sum(cnt) AS BIGINT) FROM grid) AS n
      FROM grid
    ),
    phased AS (
      SELECT tok,
             CASE WHEN 3 * cum_prev < n THEN 1
                  WHEN 3 * cum_prev < 2 * n THEN 2 ELSE 3 END AS phase
      FROM cum
    )
    SELECT CAST(p.phase AS BIGINT) AS phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(l.tok) AS BIGINT) AS total_tokens,
           CAST(min(l.tok) AS BIGINT) AS min_tokens,
           CAST(max(l.tok) AS BIGINT) AS max_tokens
    FROM lens l JOIN phased p ON p.tok = l.tok
    GROUP BY p.phase
    """,
)
def llmops_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum phase assignment: order the corpus by whitespace
    token count and cut it into three equal-count phases (short → long —
    the classic curriculum-learning schedule of Bengio et al. 2009, where
    training sees easy/short documents first). The cut is NOT an ntile
    window over the corpus: phase boundaries come from the bounded
    token-count grid (88 distinct lengths at sf0.01) via an exclusive
    cumulative sum and integer cross-multiplication (3·cum_prev vs n), so
    every document with the same length lands in the same phase
    deterministically and the corpus-sized table never sorts globally.
    Output: per-phase doc count, token mass, and length band — the table
    a training scheduler consumes.

    Spark-first: one scan computes lengths; the grid (≤ distinct-lengths
    rows) aggregates, windows under bounded_window_key, and broadcasts
    back onto the corpus — one shuffle for the grid agg, a broadcast
    join for assignment, one shuffle for the phase rollup."""
    from batch_public_spark.operators.textops import token_count_ws
    from batch_public_spark.plans.lint import bounded_window_key

    lens = t(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("tok")
    )
    grid = lens.groupBy("tok").agg(F.count("*").cast("bigint").alias("cnt"))
    wg = (
        W.partitionBy(bounded_window_key(F.col("tok")))
        .orderBy("tok")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = grid.select(
        "tok",
        F.coalesce(F.sum("cnt").over(wg), F.lit(0)).cast("bigint").alias("cum_prev"),
    ).crossJoin(F.broadcast(grid.agg(F.sum("cnt").cast("bigint").alias("n"))))
    phased = cum.select(
        "tok",
        F.when(3 * F.col("cum_prev") < F.col("n"), 1)
        .when(3 * F.col("cum_prev") < 2 * F.col("n"), 2)
        .otherwise(3)
        .cast("bigint")
        .alias("phase"),
    )
    return (
        lens.join(F.broadcast(phased), "tok")
        .groupBy("phase")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("tok").cast("bigint").alias("total_tokens"),
            F.min("tok").cast("bigint").alias("min_tokens"),
            F.max("tok").cast("bigint").alias("max_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Preference-pair construction (RLHF / DPO dataset building)
# ---------------------------------------------------------------------------


def _ranked_pairs(s: DataFrame) -> DataFrame:
    """Rank-symmetric preference pairs of ``s`` (source, doc_id, reward and
    any further columns): the i-th best (reward DESC, doc_id) of each source
    joined on (source, i) to its i-th worst (reward, doc_id DESC), kept for
    i <= n/2 with a strictly positive margin. Every column c of ``s`` but
    source comes back as chosen_c and rejected_c, beside source and i."""
    cols = [c for c in s.columns if c != "source"]
    wb = W.partitionBy("source").orderBy(F.desc("reward"), "doc_id")
    ww = W.partitionBy("source").orderBy("reward", F.desc("doc_id"))
    best = s.select(
        "source",
        *[F.col(c).alias(f"chosen_{c}") for c in cols],
        F.row_number().over(wb).alias("i"),
        F.count("*").over(W.partitionBy("source")).cast("bigint").alias("n"),
    )
    worst = s.select(
        "source",
        *[F.col(c).alias(f"rejected_{c}") for c in cols],
        F.row_number().over(ww).alias("i"),
    )
    return best.join(worst, ["source", "i"]).filter(
        (F.col("i") * 2 <= F.col("n")) & (F.col("chosen_reward") > F.col("rejected_reward"))
    )


@query(
    "llmops_preference_pairs",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, {_TOKS_NORM} AS toks FROM documents),
    s AS (
      SELECT doc_id, source,
             CAST(COALESCE(list_sum(list_transform(toks, t -> {_tok_weight('t')})), 0)
                  AS BIGINT) AS reward
      FROM d
    ), best AS (
      SELECT source, doc_id, reward,
             row_number() OVER (PARTITION BY source
                                ORDER BY reward DESC, doc_id) AS i,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM s
    ), worst AS (
      SELECT source, doc_id, reward,
             row_number() OVER (PARTITION BY source
                                ORDER BY reward ASC, doc_id DESC) AS i
      FROM s
    )
    SELECT b.source, CAST(b.i AS BIGINT) AS pair_rank,
           b.doc_id AS chosen_id, w.doc_id AS rejected_id,
           b.reward AS chosen_reward, w.reward AS rejected_reward,
           b.reward - w.reward AS margin
    FROM best b JOIN worst w ON w.source = b.source AND w.i = b.i
    WHERE b.i * 2 <= b.n AND b.reward > w.reward
    """,
)
def llmops_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for RLHF/DPO training sets: within each
    source ("prompt group"), rank documents by a reward and pair the i-th
    best with the i-th worst (rank-symmetric matching — the widest-margin
    pairing that uses each document at most once), dropping pairs whose
    margin isn't strictly positive. The reward reuses the hashed-features
    linear score from llmops_quality_classifier (exact integer token-weight
    sum — a stand-in for a trained reward model with the same plan shape),
    so chosen/rejected/margin are all BIGINT-exact and the hash attests the
    pairing logic, not float luck.

    Determinism: the two rankings are exact reverses of each other —
    (reward DESC, doc_id ASC) vs (reward ASC, doc_id DESC) — so
    worst_i = best_(n+1-i) and i ≤ n/2 guarantees the two sides of a
    pair are distinct documents even through reward ties.

    Spark-first: tokenize + in-row fold rides the scan (zero exchange for
    the reward), then one shuffle on source for the two windows and a
    self-join on (source, rank) that co-partitions with them — three
    stages total, no driver-side pairing. At 100 TB the group key is the
    real prompt id and the same plan holds; the window is bounded by
    group size, not corpus size."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "source", "text")).withColumn(
        "toks", tokens(normalized_text(F.col("text")))
    )
    s = d.select("doc_id", "source", _reward("toks").alias("reward"))
    return _ranked_pairs(s).select(
        "source",
        F.col("i").cast("bigint").alias("pair_rank"),
        F.col("chosen_doc_id").alias("chosen_id"),
        F.col("rejected_doc_id").alias("rejected_id"),
        "chosen_reward",
        "rejected_reward",
        (F.col("chosen_reward") - F.col("rejected_reward")).alias("margin"),
    )


@query(
    "llmops_uncertainty_sample",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, {_TOKS_NORM} AS toks FROM documents),
    s AS (
      SELECT doc_id, source,
             CAST(COALESCE(list_sum(list_transform(toks, t -> {_tok_weight('t')})), 0)
                  AS BIGINT) AS w_sum
      FROM d
    )
    SELECT doc_id, source, w_sum, abs(w_sum) AS margin
    FROM s ORDER BY abs(w_sum), doc_id LIMIT 25
    """,
)
def llmops_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty (margin) sampling for active learning: select the 25
    documents whose classifier score sits closest to the decision
    boundary — the rows a human labeler (or a teacher model) should see
    next, because they move the decision boundary most per label. The
    classifier is the hashed-features linear score shared with
    llmops_quality_classifier / llmops_preference_pairs; the margin is
    the exact integer |w_sum| (pre-sigmoid distance — sigmoid is
    monotone, so ranking by |w_sum| IS ranking by |p − 0.5| without ever
    computing a float), and the cut is deterministic under the
    (margin, doc_id) total order — expressed as orderBy+limit, never a
    global row_number window (the linter's unpartitioned-window rule).

    Spark-first: score rides the scan in-row; the top-25 is a
    TakeOrderedAndProject (per-partition heap + driver merge of 25-row
    heads — no global sort materializes). At 100 TB this is the
    standard label-budget allocator: one scan, k rows out."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "source", "text")).withColumn(
        "toks", tokens(normalized_text(F.col("text")))
    )
    s = d.select("doc_id", "source", _reward("toks").alias("w_sum")).withColumn(
        "margin", F.abs("w_sum")
    )
    return s.orderBy("margin", "doc_id").limit(25).select(
        "doc_id", "source", "w_sum", "margin"
    )


@query(
    "llmops_best_of_n_curve",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, {_TOKS_NORM} AS toks FROM documents),
    s AS (
      SELECT doc_id, source,
             CAST(COALESCE(list_sum(list_transform(toks, t -> {_tok_weight('t')})), 0)
                  AS BIGINT) AS reward
      FROM d
    ), ranked AS (
      SELECT source, reward,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY reward, doc_id) AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS nn
      FROM s
    ), grid AS (SELECT * FROM (VALUES (1), (2), (4), (8)) t(n)),
    terms AS (
      SELECT r.source, g.n, r.reward,
             CASE
               WHEN r.i < g.n THEN 0.0e0
               WHEN g.n = 1 THEN 1.0e0 / r.nn
               WHEN g.n = 2 THEN (2.0e0 / r.nn) * (r.i - 1.0e0) / (r.nn - 1.0e0)
               WHEN g.n = 4 THEN (4.0e0 / r.nn)
                    * (r.i - 1.0e0) / (r.nn - 1.0e0)
                    * (r.i - 2.0e0) / (r.nn - 2.0e0)
                    * (r.i - 3.0e0) / (r.nn - 3.0e0)
               ELSE (8.0e0 / r.nn)
                    * (r.i - 1.0e0) / (r.nn - 1.0e0)
                    * (r.i - 2.0e0) / (r.nn - 2.0e0)
                    * (r.i - 3.0e0) / (r.nn - 3.0e0)
                    * (r.i - 4.0e0) / (r.nn - 4.0e0)
                    * (r.i - 5.0e0) / (r.nn - 5.0e0)
                    * (r.i - 6.0e0) / (r.nn - 6.0e0)
                    * (r.i - 7.0e0) / (r.nn - 7.0e0)
             END AS p_max
      FROM ranked r CROSS JOIN grid g
    )
    SELECT source, CAST(n AS BIGINT) AS n_samples,
           round(CAST(sum(CAST(round(reward * p_max, 10)
                               AS DECIMAL(28, 10))) AS DOUBLE), 6)
             AS expected_best_reward
    FROM terms GROUP BY source, n
    """,
)
def llmops_best_of_n_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n scaling curve, computed EXACTLY from order statistics:
    for each source ("prompt"), the expected maximum reward of a uniform
    random n-subset of its documents ("samples"), for n ∈ {1, 2, 4, 8} —
    the curve that decides whether best-of-n selection is worth n× the
    inference cost before anyone runs a sampler. No Monte Carlo anywhere:
    P(max is the i-th smallest of N) = C(i−1, n−1)/C(N, n) =
    (n/N)·Π_{j=1}^{n−1}(i−j)/(N−j), spelled as explicit per-n factor
    chains (≤7 double ratios — no factorials, no overflow, no pow()),
    and E[max] = Σ rᵢ·pᵢ with each term decimal-summed. n = 1 reproduces
    the group mean by construction, and the curve is non-decreasing in n
    (both invariant-tested). Ties are handled by the fixed
    (reward, doc_id) total order — the max VALUE is unaffected by which
    tied item ranks higher. Reward is the shared hashed-features integer
    score (quality_classifier / preference_pairs / uncertainty_sample).

    Spark-first: one in-row fold for rewards, one shuffle for the
    per-source ranking window, a 4-row broadcast grid, and the curve
    aggregates on |sources|×4 cells."""
    d = t(spark, sf_dir, "documents").withColumn(
        "toks", tokens(normalized_text(F.col("text")))
    )
    s = d.select("doc_id", "source", _reward("toks").alias("reward"))
    wr = W.partitionBy("source").orderBy("reward", "doc_id")
    ranked = s.select(
        "source",
        "reward",
        F.row_number().over(wr).cast("bigint").alias("i"),
        F.count("*").over(W.partitionBy("source")).cast("bigint").alias("nn"),
    )
    grid = F.broadcast(
        inline_rows(ranked.sparkSession, "n long", [(1,), (2,), (4,), (8,)])
    )

    def chain(n):
        expr = F.lit(float(n)) / F.col("nn")
        for j in range(1, n):
            expr = expr * (F.col("i") - F.lit(float(j))) / (
                F.col("nn") - F.lit(float(j))
            )
        return expr

    p_max = (
        F.when(F.col("i") < F.col("n"), F.lit(0.0))
        .when(F.col("n") == 1, chain(1))
        .when(F.col("n") == 2, chain(2))
        .when(F.col("n") == 4, chain(4))
        .otherwise(chain(8))
    )
    terms = ranked.crossJoin(grid).select(
        "source",
        "n",
        (F.col("reward") * p_max).alias("term"),
    )
    return terms.groupBy("source", F.col("n").alias("n_samples")).agg(
        F.round(
            F.sum(F.round(F.col("term"), 10).cast("decimal(28,10)")).cast("double"),
            6,
        ).alias("expected_best_reward")
    )


@query(
    "llmops_response_length_bias",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, {_TOKS_NORM} AS toks FROM documents),
    s AS (
      SELECT doc_id, source,
             CAST(COALESCE(list_sum(list_transform(toks, t -> {_tok_weight('t')})), 0)
                  AS BIGINT) AS reward,
             CAST(len(toks) AS BIGINT) AS n_toks
      FROM d
    ), best AS (
      SELECT source, doc_id, reward, n_toks,
             row_number() OVER (PARTITION BY source
                                ORDER BY reward DESC, doc_id) AS i,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM s
    ), worst AS (
      SELECT source, doc_id, reward, n_toks,
             row_number() OVER (PARTITION BY source
                                ORDER BY reward ASC, doc_id DESC) AS i
      FROM s
    ), pairs AS (
      SELECT b.reward - w.reward AS margin,
             b.n_toks - w.n_toks AS len_delta
      FROM best b JOIN worst w ON w.source = b.source AND w.i = b.i
      WHERE b.i * 2 <= b.n AND b.reward > w.reward
    ), sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(margin) AS BIGINT) AS sx,
             CAST(sum(len_delta) AS BIGINT) AS sy,
             CAST(sum(margin * margin) AS BIGINT) AS sxx,
             CAST(sum(len_delta * len_delta) AS BIGINT) AS syy,
             CAST(sum(margin * len_delta) AS BIGINT) AS sxy,
             CAST(count(*) FILTER (WHERE len_delta > 0) AS BIGINT) AS n_longer
      FROM pairs
    )
    SELECT n AS n_pairs, n_longer AS n_chosen_longer,
           round(n_longer * 1.0e0 / n, 6) AS frac_chosen_longer,
           round((n * sxy - sx * sy) * 1.0e0
                 / (sqrt((n * sxx - sx * sx) * 1.0e0)
                    * sqrt((n * syy - sy * sy) * 1.0e0)), 6)
             AS corr_margin_len_delta
    FROM sums
    """,
)
def llmops_response_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bias audit over the DPO/RLHF preference pairs (the exact
    pairing llmops_preference_pairs constructs): the fraction of pairs
    whose CHOSEN side is simply longer, and the Pearson correlation
    between preference margin and token-length delta. Reward models
    notoriously leak a length prior (verbosity wins even when quality
    ties — the bias every RLHF post-mortem checks first); a
    frac_chosen_longer near 1 or a strong positive correlation says the
    "preference" signal is substantially just length, and downstream DPO
    will train a rambler. This is the dataset-side audit run before any
    gradient step.

    Parity discipline: margins and length deltas are exact BIGINTs from
    the shared integer reward; the correlation is computed from six
    exact integer sums via the textbook closed form, spelled identically
    in both engines — ONE rounded division pair at emission (the OLS
    discipline from agg_ols_two_feature). Single-row output; both
    measures sit strictly inside (0, 1) at sf0.01 (frac ≈ 0.53, corr ≈
    0.008 — the synthetic reward is length-neutral, which is exactly
    what the audit should report) — non-vacuous.

    Spark-first: identical three-stage shape as the pair builder (in-row
    reward fold, one shuffle on source for the two rank windows, a
    co-partitioned rank self-join), then one global integer-moment
    aggregation — the audit costs one extra reduce over the pairs."""
    d = spread(t(spark, sf_dir, "documents").select("doc_id", "source", "text")).withColumn(
        "toks", tokens(normalized_text(F.col("text")))
    )
    s = d.select(
        "doc_id",
        "source",
        _reward("toks").alias("reward"),
        F.size("toks").cast("bigint").alias("n_toks"),
    )
    pairs = _ranked_pairs(s).select(
        (F.col("chosen_reward") - F.col("rejected_reward")).alias("margin"),
        (F.col("chosen_n_toks") - F.col("rejected_n_toks")).alias("len_delta"),
    )
    sums = pairs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("margin").cast("bigint").alias("sx"),
        F.sum("len_delta").cast("bigint").alias("sy"),
        F.sum(F.col("margin") * F.col("margin")).cast("bigint").alias("sxx"),
        F.sum(F.col("len_delta") * F.col("len_delta")).cast("bigint").alias("syy"),
        F.sum(F.col("margin") * F.col("len_delta")).cast("bigint").alias("sxy"),
        F.sum(F.when(F.col("len_delta") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_longer"),
    )
    return sums.select(
        F.col("n").alias("n_pairs"),
        F.col("n_longer").alias("n_chosen_longer"),
        F.round(F.col("n_longer") * F.lit(1.0) / F.col("n"), 6).alias(
            "frac_chosen_longer"
        ),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * F.lit(1.0)
            / (
                F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.lit(1.0))
                * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")) * F.lit(1.0))
            ),
            6,
        ).alias("corr_margin_len_delta"),
    )


_HRW_MD5 = "md5(CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR))"
_HRW_H = f"({_hex3(_HRW_MD5, 1)} * 4096 + {_hex3(_HRW_MD5, 4)})"


@query(
    "llmops_rendezvous_shard_routing",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, s, {_HRW_H} AS h
      FROM documents, UNNEST(range(9)) AS u(s)
    ), a AS (
      -- (h, s) lexicographic argmax as one orderable key: h < 16^6 and
      -- s < 16, so h * 16 + s orders exactly like the tuple
      SELECT doc_id,
             arg_max(s, h * 16 + s) FILTER (WHERE s < 8) AS a8,
             arg_max(s, h * 16 + s) AS a9
      FROM g GROUP BY doc_id
    ), g8 AS (
      SELECT a8 AS shard, count(*) AS n8 FROM a GROUP BY a8
    ), g9 AS (
      SELECT a9 AS shard, count(*) AS n9,
             sum(CASE WHEN a8 <> a9 THEN 1 ELSE 0 END) AS mv
      FROM a GROUP BY a9
    )
    SELECT CAST(grid.shard AS INT) AS shard,
           CAST(coalesce(g8.n8, 0) AS BIGINT) AS n_assigned_8,
           CAST(coalesce(g9.n9, 0) AS BIGINT) AS n_assigned_9,
           CAST(coalesce(g9.mv, 0) AS BIGINT) AS n_moved_in
    FROM (SELECT unnest(range(9)) AS shard) grid
    LEFT JOIN g8 USING (shard)
    LEFT JOIN g9 USING (shard)
    """,
)
def llmops_rendezvous_shard_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENDEZVOUS (highest-random-weight) shard routing (Thaler &
    Ravishankar 1996) — the shard assignment that survives resharding:
    each doc routes to argmax over shards of hash(doc, shard), so growing
    the fleet 8 → 9 moves only the docs whose NEW shard wins the argmax —
    an expected 1/9 of the corpus — where ``hash(doc) % N`` re-routes
    8/9 of it (every cache, bucket layout, and incremental index built
    per shard invalidates). Emitted per shard of the grown fleet: the
    population under 8 shards, under 9, and the arrivals (`n_moved_in`);
    by HRW's defining property every arrival lands on the NEW shard
    (shard 8) *or* reflects a hash tie — a test pins sum(moved) ==
    n_assigned_9(shard 8) and the ~1/9 fraction.

    Spark-first/100 TB: routing is pure per-row arithmetic — the 9
    candidate weights fold IN-ROW (an array of (hash, shard) structs;
    both argmaxes are ``array_max`` over it, codegen'd, no explode, no
    shuffle), so the whole assignment costs one scan plus two 9-group
    hash aggregations; the only joins are on the 9-row shard grid
    (shard-cardinality-bounded by the literal fleet size). Parity: the
    24-bit weight parses the md5 hex via engine-neutral ascii arithmetic
    (oracle) / conv() (Spark) — identical integers — and the argmax
    tie-break is the (h, shard) lexicographic max in both engines."""
    docs = t(spark, sf_dir, "documents").select("doc_id")

    def weight(i: int):
        h = F.md5(F.concat_ws("#", F.col("doc_id").cast("string"), F.lit(str(i))))
        return F.conv(F.substring(h, 1, 6), 16, 10).cast("bigint")

    cands = F.array(
        *[
            F.struct(weight(i).alias("h"), F.lit(i).cast("int").alias("s"))
            for i in range(9)
        ]
    )
    a = docs.select(
        F.array_max(F.slice(cands, 1, 8)).getField("s").alias("a8"),
        F.array_max(cands).getField("s").alias("a9"),
    )
    g8 = a.groupBy(F.col("a8").alias("shard")).agg(F.count("*").alias("n8"))
    g9 = a.groupBy(F.col("a9").alias("shard")).agg(
        F.count("*").alias("n9"),
        F.sum(F.when(F.col("a8") != F.col("a9"), 1).otherwise(0)).alias("mv"),
    )
    grid = spark.range(9).select(F.col("id").cast("int").alias("shard"))
    return (
        grid.join(g8, "shard", "left")
        .join(g9, "shard", "left")
        .select(
            "shard",
            F.coalesce(F.col("n8"), F.lit(0)).cast("bigint").alias("n_assigned_8"),
            F.coalesce(F.col("n9"), F.lit(0)).cast("bigint").alias("n_assigned_9"),
            F.coalesce(F.col("mv"), F.lit(0)).cast("bigint").alias("n_moved_in"),
        )
    )


# Naive-Bayes distillation trainer: vocabulary cap and its Laplace mass
# 0.5 * V, spelled identically in both engines.
_NB_V = 200
_NB_HALF_V = "100.0"

# The teacher gate, doc-level: the SAME round-6 decimal quality score the
# corpus filter (llmops_quality_filter) emits, thresholded at the CORPUS
# MEAN (the llmops_filter_disparity_audit convention) — a data-dependent
# cut that guarantees both teacher classes are populated at every SF
# (the fixed 0.5 gate drops nothing at sf0.001 and the distillation
# would be vacuous).
_NB_TEACHER_SQL = f"""
      SELECT doc_id, lang, CAST(q AS DOUBLE) >= qbar AS pos
      FROM (
        SELECT doc_id, lang,
               CAST(ROUND(least(n_tok / 50.0, 1.0) * 0.3
                     + greatest(0.0, 1.0 - pr * 4) * 0.3
                     + least(swr * 5, 1.0) * 0.2
                     + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.2, 6)
                 AS DECIMAL(10,6)) AS q
        FROM ({_QUALITY_SQL}) qm
      ) qq CROSS JOIN (
        SELECT CAST(sum(CAST(ROUND(least(n_tok / 50.0, 1.0) * 0.3
                     + greatest(0.0, 1.0 - pr * 4) * 0.3
                     + least(swr * 5, 1.0) * 0.2
                     + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.2, 6)
                 AS DECIMAL(10,6))) AS DOUBLE) / count(*) AS qbar
        FROM ({_QUALITY_SQL}) qm2
      ) qb
"""


def _teacher_labeled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents labeled by the corpus-mean quality gate (_NB_TEACHER_SQL's
    Spark twin): (doc_id, lang, pos, text). Shared by the NB distillation
    trainer and the DSIR selector — both learn to reproduce this teacher."""
    # spread(): everything downstream of this scan is per-row text compute
    # (quality_score here; tokenize + n-gram explode + per-occurrence md5 in
    # the DSIR/NB consumers — ~5M occurrence rows at sf0.1), and a
    # single-row-group fixture would serialize it all on one core. No-op on
    # a well-split corpus (guide §2.5; dsir isolated A/B below).
    d = spread(t(spark, sf_dir, "documents"))
    q6 = F.round(quality_score(F.col("text")), 6).cast("decimal(10,6)")
    qd = d.select("doc_id", "lang", "text", q6.alias("q"))
    qbar = qd.agg((F.sum("q").cast("double") / F.count("*")).alias("qbar"))
    return qd.crossJoin(F.broadcast(qbar)).select(
        "doc_id",
        "lang",
        (F.col("q").cast("double") >= F.col("qbar")).alias("pos"),
        "text",
    )


def _nb_distill_scored(lab: DataFrame, occ: DataFrame) -> DataFrame:
    """Core of the NB distillation trainer, factored over an already-
    labeled doc frame ``lab`` (doc_id, lang, pos) and its token-occurrence
    stream ``occ`` (doc_id, pos, tok) so the label-flip antisymmetry
    invariant (tests/test_r13_invariants.py) can retrain on NOT pos and
    assert exact score negation. Returns doc-level scores."""
    # r15 single-pass fusion (guide §1.2): vocab, the per-class counts
    # (tc) and the per-doc score sums (docsum) were THREE passes over the
    # tokenize + explode stream. One (doc_id, pos, tok) pre-aggregate
    # (bounded by per-doc distinct tokens; cut for its three consumers)
    # feeds all three by exact-BIGINT sums / exact-decimal cnt·w products.
    dtc = (
        occ.groupBy("doc_id", "pos", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .transform(cut)
    )
    vocab = (
        dtc.groupBy("tok")
        .agg(F.sum("cnt").cast("bigint").alias("c_all"))
        .orderBy(F.col("c_all").desc(), "tok")
        .limit(_NB_V)
    )
    tc = (
        dtc.join(F.broadcast(vocab.select("tok")), "tok")
        .groupBy("tok")
        .agg(
            F.sum(F.when(F.col("pos"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("c_pos"),
            F.sum(F.when(~F.col("pos"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("c_neg"),
        )
    )
    cls = tc.agg(
        F.sum("c_pos").cast("bigint").alias("np"),
        F.sum("c_neg").cast("bigint").alias("nn"),
    )
    half_v = float(_NB_HALF_V)
    w = tc.crossJoin(F.broadcast(cls)).select(
        "tok",
        F.round(
            F.log((F.col("c_pos") + 0.5) / (F.col("np") + half_v))
            - F.log((F.col("c_neg") + 0.5) / (F.col("nn") + half_v)),
            6,
        )
        .cast("decimal(18,6)")
        .alias("w"),
    )
    prior = lab.agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("d_pos"),
        F.sum(F.when(~F.col("pos"), 1).otherwise(0)).cast("bigint").alias("d_neg"),
    ).select(
        # difference-of-lns, NOT ln of the ratio: under a label flip the
        # two terms swap, so negation is EXACT in IEEE (ln(1/x) is not
        # exactly -ln(x)); the flip-antisymmetry invariant relies on it
        F.round(
            F.log(F.col("d_pos") + 0.5) - F.log(F.col("d_neg") + 0.5), 6
        )
        .cast("decimal(18,6)")
        .alias("pr"),
    )
    # sum of w repeated cnt times IS cnt·w (exact decimals); cast back to
    # the original sum's DECIMAL(28,6) so downstream operands are
    # byte-identical.
    docsum = (
        dtc.join(F.broadcast(w), "tok")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("w")).cast("decimal(28,6)").alias("ws"))
    )
    return (
        lab.join(docsum, "doc_id", "left")
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id",
            "lang",
            "pos",
            (
                F.coalesce(F.col("ws"), F.lit(0).cast("decimal(18,6)"))
                + F.col("pr")
            ).alias("s"),
        )
    )


@query(
    "llmops_nb_quality_distill",
    oracle=f"""
    WITH lab AS ({_NB_TEACHER_SQL}),
    occ AS (
      SELECT d.doc_id, lab.pos, lower(tk.tok) AS tok
      FROM documents d JOIN lab ON lab.doc_id = d.doc_id,
           UNNEST(list_filter(string_split_regex(trim(d.text), '\\s+'),
                              x -> length(x) > 0)) AS tk(tok)
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, CAST(count(*) AS BIGINT) AS c_all
        FROM occ GROUP BY tok ORDER BY c_all DESC, tok LIMIT {_NB_V}
      ) v
    ), tc AS (
      SELECT tok,
             CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS c_pos,
             CAST(count(*) FILTER (WHERE NOT pos) AS BIGINT) AS c_neg
      FROM occ JOIN vocab USING (tok) GROUP BY tok
    ), cls AS (
      SELECT CAST(sum(c_pos) AS BIGINT) AS np,
             CAST(sum(c_neg) AS BIGINT) AS nn
      FROM tc
    ), w AS (
      SELECT tok,
             CAST(round(ln((c_pos + 0.5) / (np + {_NB_HALF_V}))
                        - ln((c_neg + 0.5) / (nn + {_NB_HALF_V})), 6)
                  AS DECIMAL(18,6)) AS w
      FROM tc CROSS JOIN cls
    ), prior AS (
      SELECT CAST(round(ln(count(*) FILTER (WHERE pos) + 0.5)
                        - ln(count(*) FILTER (WHERE NOT pos) + 0.5), 6)
                  AS DECIMAL(18,6)) AS pr
      FROM lab
    ), docsum AS (
      SELECT occ.doc_id, sum(w.w) AS ws
      FROM occ JOIN w USING (tok) GROUP BY occ.doc_id
    ), scored AS (
      SELECT lab.doc_id, lab.lang, lab.pos,
             coalesce(ds.ws, CAST(0 AS DECIMAL(18,6))) + prior.pr AS s
      FROM lab LEFT JOIN docsum ds ON ds.doc_id = lab.doc_id
      CROSS JOIN prior
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS teacher_keep,
           CAST(count(*) FILTER (WHERE s > 0) AS BIGINT) AS student_keep,
           CAST(count(*) FILTER (WHERE pos = (s > 0)) AS BIGINT) AS n_agree,
           round(CAST(count(*) FILTER (WHERE pos = (s > 0)) AS DOUBLE)
                 / count(*), 6) AS accuracy
    FROM scored GROUP BY lang
    """,
)
def llmops_nb_quality_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-CLASSIFIER DISTILLATION TRAINING — the learning step
    llmops_quality_classifier's docstring promises ("a real
    trained-weights variant only adds a broadcast map lookup"): train a
    multinomial Naive-Bayes bag-of-words student (the fastText-style
    linear classifier of the GPT-3/CCNet/phi quality-filter lineage) to
    MIMIC the expensive rule-based corpus gate (llmops_quality_filter's
    round-6 decimal score, thresholded at the corpus mean — the
    llmops_filter_disparity_audit convention, so both teacher classes
    are populated at every SF — as the teacher label), then score every
    document with the learned weights and report per-language
    teacher/student agreement — the audit that decides whether the cheap
    distilled gate can replace the expensive one at 100 TB.

    Training is closed-form (one pass, no gradient loop): per-token-type
    class counts over a top-{_NB_V} frequency-capped vocabulary, Laplace
    0.5-smoothed log-odds w(t) = ln p(t|pos) - ln p(t|neg), plus the
    class-prior log-odds; a document's score is the exact-decimal sum of
    its tokens' weights (OOV contributes 0) and the student keeps s > 0.

    Parity discipline: every count is an exact integer, each ln() runs
    once per vocab TYPE on an identical double ratio, weights are
    quantized round-6 into DECIMAL(18,6) (the llmops_ngram_lm_perplexity
    mechanism), per-doc sums are exact decimal arithmetic, and the keep
    decision compares an exact decimal against 0 — no float at any
    boundary. Label-flip antisymmetry (retraining on NOT pos negates
    every score exactly) is pinned in tests/test_r13_invariants.py.

    Spark-first: three map-side-combinable hash aggregations (vocab
    counts, class-conditional counts, doc sums), the 200-row weight
    table and both 1-row frames BROADCAST — at 100 TB the only wide
    exchanges are token-keyed partial aggs; scoring is a broadcast map
    lookup, exactly the shape the apply-side query promised."""
    lab = _teacher_labeled_docs(spark, sf_dir)
    occ = lab.select(
        "doc_id",
        "pos",
        F.explode(F.transform(tokens(F.col("text")), F.lower)).alias("tok"),
    )
    scored = _nb_distill_scored(lab.drop("text"), occ)
    agree = F.col("pos") == (F.col("s") > 0)
    return scored.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("teacher_keep"),
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("student_keep"),
        F.sum(F.when(agree, 1).otherwise(0)).cast("bigint").alias("n_agree"),
        F.round(
            F.sum(F.when(agree, 1).otherwise(0)).cast("double") / F.count("*"), 6
        ).alias("accuracy"),
    )


# DSIR hashed-feature space: B buckets and the Laplace mass 0.5 * B.
_DSIR_B = 64
_DSIR_HALF_B = "32.0"
# Poisson-selection threshold on the Gumbel-perturbed log-weight and the
# softmax temperature dividing the log-weight before the Gumbel race (see
# docstring); fixed literals, identical in both engines.
_DSIR_C = "1.0"
_DSIR_TAU = "0.05"


def _dsir_gumbel(h: str) -> str:
    """SQL: standard Gumbel(0,1) noise from a seeded md5 uniform
    (-ln(-ln u)); u is an exact dyadic rational strictly inside (0,1)
    (stats_queries._dp_u), so both lns run on identical doubles."""
    from batch_public_spark.plans.stats_queries import _dp_u

    return f"(-ln(-ln({_dp_u(h)})))"


@query(
    "llmops_dsir_selection",
    oracle=f"""
    WITH lab AS ({_NB_TEACHER_SQL}),
    tk AS (
      SELECT lab.doc_id, lab.pos,
             list_transform(list_filter(string_split_regex(trim(d.text), '\\s+'),
                                        x -> length(x) > 0),
                            x -> lower(x)) AS toks
      FROM lab JOIN documents d ON d.doc_id = lab.doc_id
    ), uni AS (
      SELECT doc_id, pos, unnest(toks) AS ng FROM tk
    ), bi0 AS (
      SELECT doc_id, pos,
             unnest(toks[1:length(toks)-1]) AS w1,
             unnest(toks[2:length(toks)]) AS w2
      FROM tk WHERE length(toks) >= 2
    ), occ AS (
      SELECT doc_id, pos, ng FROM uni
      UNION ALL
      SELECT doc_id, pos, w1 || ' ' || w2 AS ng FROM bi0
    ), bkt AS (
      SELECT doc_id, pos,
             ({_hex3("md5(ng || ':dsir')")} % {_DSIR_B}) AS b
      FROM occ
    ), bc AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n_raw,
             CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS n_tgt
      FROM bkt GROUP BY b
    ), tot AS (
      SELECT CAST(sum(n_raw) AS BIGINT) AS r_tot,
             CAST(sum(n_tgt) AS BIGINT) AS t_tot
      FROM bc
    ), w AS (
      SELECT b, CAST(round(ln(n_tgt + 0.5) - ln(t_tot + {_DSIR_HALF_B})
                           - ln(n_raw + 0.5) + ln(r_tot + {_DSIR_HALF_B}), 6)
                     AS DECIMAL(18,6)) AS lw
      FROM bc CROSS JOIN tot
    ), doclw AS (
      SELECT bkt.doc_id, sum(w.lw) AS lw
      FROM bkt JOIN w USING (b) GROUP BY bkt.doc_id
    ), scored AS (
      SELECT lab.doc_id, lab.pos,
             coalesce(dl.lw, CAST(0 AS DECIMAL(18,6))) AS lw,
             CAST(coalesce(dl.lw, CAST(0 AS DECIMAL(18,6))) AS DOUBLE) / {_DSIR_TAU}
               + {_dsir_gumbel("md5(CAST(lab.doc_id AS VARCHAR) || ':dsir')")} AS sel_key
      FROM lab LEFT JOIN doclw dl ON dl.doc_id = lab.doc_id
    )
    SELECT pos AS is_target,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE sel_key > {_DSIR_C}) AS BIGINT)
             AS n_selected,
           round(CAST(count(*) FILTER (WHERE sel_key > {_DSIR_C}) AS DOUBLE)
                 / count(*), 6) AS sel_share,
           round(CAST(sum(lw) AS DOUBLE) / count(*), 6) AS mean_logw,
           round(CAST(sum(lw) FILTER (WHERE sel_key > {_DSIR_C}) AS DOUBLE)
                 / nullif(count(*) FILTER (WHERE sel_key > {_DSIR_C}), 0), 6)
             AS mean_logw_selected
    FROM scored GROUP BY pos
    """,
)
def llmops_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023): estimate hashed-n-gram bag-of-words distributions for
    a TARGET domain and the RAW corpus, weight every document by its
    importance log-ratio sum, and sample the corpus proportionally — the
    method behind targeted pretraining mixes. Features are word unigrams
    AND bigrams hashed into 64 buckets (the paper's hashed n-gram
    space); the target is the corpus-mean quality gate's accepted class
    (the llmops_nb_quality_distill teacher — the paper's "formal text"
    target, text-derived so the weights carry real token signal);
    per-bucket log-ratios use Laplace 0.5 smoothing.

    Selection is the Poisson/exponential-race form: a document is kept
    when logw/tau + Gumbel > c — the streaming-safe cousin of the
    paper's Gumbel-top-k (top-k needs a global sort; the threshold form
    keeps inclusion probability 1 - exp(-e^(logw/tau - c)), monotone in
    logw, and the tau = 0.05 softmax temperature re-sharpens what the
    64-bucket fixture space flattens — a 10k-bucket production space
    runs tau = 1) and
    decides each row independently — one scan, no global state, the
    shape that survives 100 TB). The Gumbel draw is seeded from md5 of
    the doc id (the dq_dp_noisy_release public-draw convention:
    deterministic calibration form; production swaps a secret RNG).

    Parity discipline: bucket counts are exact integers; each bucket
    log-ratio is a difference of lns on identical doubles quantized
    round-6 into DECIMAL (the llmops_ngram_lm_perplexity mechanism);
    per-doc sums are exact decimal; the Gumbel uniform is an exact
    dyadic rational so -ln(-ln u) is identical in both engines; the
    selection compares identical doubles against the same literal.

    Spark-first: two map-side-combinable hash aggregations (bucket
    counts, per-doc sums), the 64-row weight table and the 1-row total
    BROADCAST; selection is a stateless per-row predicate. The target
    need not be a subset of the corpus at scale — swapping in an
    external target table changes one input, not the plan shape."""
    from batch_public_spark.plans.stats_queries import _dp_u

    lab = _teacher_labeled_docs(spark, sf_dir)
    tk = lab.select(
        "doc_id",
        "pos",
        F.transform(tokens(F.col("text")), F.lower).alias("toks"),
    )
    uni = tk.select("doc_id", "pos", F.explode("toks").alias("ng"))
    bi = tk.select(
        "doc_id",
        "pos",
        F.explode(
            F.transform(
                bigrams(F.col("toks")), lambda p: F.concat(p["w1"], F.lit(" "), p["w2"])
            )
        ).alias("ng"),
    )
    occ = uni.unionAll(bi)
    bkt = occ.select(
        "doc_id",
        "pos",
        (F.expr(_hex3("md5(concat(ng, ':dsir'))")) % _DSIR_B).alias("b"),
    )
    # r15 single-pass fusion (guide §1.2): the bucket counts (bc) and the
    # per-doc log-weight sums (doclw) were two passes over the SAME
    # tokenize + n-gram-explode union. One (doc_id, pos, bucket)
    # pre-aggregate (≤ docs × 64 rows — bounded, cut for its two
    # consumers) now feeds both: bucket counts by exact-BIGINT sums,
    # per-doc sums as cnt·lw (decimal multiplication is exact — the sum
    # of lw repeated cnt times IS cnt·lw — cast back to the original
    # sum's DECIMAL(28,6) so every downstream operand is byte-identical).
    db = (
        bkt.groupBy("doc_id", "pos", "b")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .transform(cut)
    )
    bc = db.groupBy("b").agg(
        F.sum("cnt").cast("bigint").alias("n_raw"),
        F.sum(F.when(F.col("pos"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_tgt"),
    )
    tot = bc.agg(
        F.sum("n_raw").cast("bigint").alias("r_tot"),
        F.sum("n_tgt").cast("bigint").alias("t_tot"),
    )
    half_b = float(_DSIR_HALF_B)
    w = bc.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log(F.col("n_tgt") + 0.5)
            - F.log(F.col("t_tot") + half_b)
            - F.log(F.col("n_raw") + 0.5)
            + F.log(F.col("r_tot") + half_b),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lw"),
    )
    doclw = (
        db.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("lw")).cast("decimal(28,6)").alias("lw"))
    )
    gumbel = F.expr(
        _dsir_gumbel("md5(concat(cast(doc_id as string), ':dsir'))")
    )
    lw0 = F.coalesce(F.col("lw"), F.lit(0).cast("decimal(18,6)"))
    scored = (
        lab.drop("text", "lang")
        .join(doclw, "doc_id", "left")
        .select(
            "doc_id",
            "pos",
            lw0.alias("lw"),
            (lw0.cast("double") / float(_DSIR_TAU) + gumbel).alias("sel_key"),
        )
    )
    c = float(_DSIR_C)
    sel = F.col("sel_key") > c
    return scored.groupBy(F.col("pos").alias("is_target")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(sel, 1).otherwise(0)).cast("bigint").alias("n_selected"),
        F.round(
            F.sum(F.when(sel, 1).otherwise(0)).cast("double") / F.count("*"), 6
        ).alias("sel_share"),
        F.round(F.sum("lw").cast("double") / F.count("*"), 6).alias("mean_logw"),
        F.round(
            F.try_divide(
                F.sum(F.when(sel, F.col("lw"))).cast("double"),
                F.sum(F.when(sel, 1).otherwise(0)),
            ),
            6,
        ).alias("mean_logw_selected"),
    )


# Content-defined chunking: a token ends a chunk when its md5-derived
# value falls in 1/16 of the hash space (expected chunk ~16 tokens).
_CDC_MOD = 16


@query(
    "llmops_cdc_chunking",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id,
             list_transform(list_filter(string_split_regex(trim(text), '\\s+'),
                                        x -> length(x) > 0),
                            x -> lower(x)) AS toks
      FROM documents
    ), pos AS (
      SELECT doc_id,
             generate_subscripts(toks, 1) AS p,
             unnest(toks) AS tok
      FROM tk WHERE length(toks) > 0
    ), flagged AS (
      SELECT doc_id, p, tok,
             CASE WHEN ({_hex3("md5(tok || ':cdc')")} % {_CDC_MOD}) = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM pos
    ), cid AS (
      SELECT doc_id, p, tok,
             coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_id
      FROM flagged
    ), chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY p)) AS chunk_key,
             CAST(count(*) AS BIGINT) AS chunk_len
      FROM cid GROUP BY doc_id, chunk_id
    )
    SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT chunk_key) AS BIGINT) AS n_distinct,
           round(1.0 - count(DISTINCT chunk_key) * 1.0 / count(*), 6)
             AS dup_share,
           round(CAST(sum(chunk_len) AS DOUBLE) / count(*), 6) AS mean_len,
           CAST(max(chunk_len) AS BIGINT) AS max_len
    FROM chunks
    """,
)
def llmops_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING (the Rabin/FastCDC idea behind
    dedup-friendly storage and the LLM-era passage dedup that survives
    insertions): a chunk boundary falls AFTER any token whose md5 lands
    in 1/16 of the hash space, so boundaries are decided by LOCAL
    content — prepending a word shifts every fixed-size chunk
    (llmops_chunk_documents) but leaves all CDC boundaries after the
    edit point intact. Emits the storage-team summary: chunk counts,
    distinct chunk keys, the cross-corpus duplicate-chunk share (what a
    content-addressed store would save), and the size profile
    (expected length = 16 tokens, geometric).

    Parity discipline: the boundary predicate is exact md5 integer
    arithmetic (the _hex3 portable-hash convention); chunk membership
    is an integer prefix sum inside a per-document window ordered by
    token position (a total order); chunk keys hash the
    position-ordered token join, and every emitted measure is exact
    integer arithmetic with one final double division.

    Spark-first: posexplode -> the per-doc prefix-sum window (partitioned
    by doc_id — never global) -> ONE (doc, chunk) aggregation building
    keys from position-sorted structs -> the one-row roll-up. At 100 TB
    the chunk keys feed the same bucketed content-addressed join every
    other dedup family uses."""
    d = t(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id", F.transform(tokens(F.col("text")), F.lower).alias("toks")
    ).filter(F.size("toks") > 0)
    pos = tk.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    boundary = F.when(
        F.expr(_hex3("md5(concat(tok, ':cdc'))")) % _CDC_MOD == 0, 1
    ).otherwise(0)
    wd = (
        W.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cid = pos.select(
        "doc_id",
        "p",
        "tok",
        F.coalesce(F.sum(boundary).over(wd), F.lit(0)).alias("chunk_id"),
    )
    chunks = cid.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s.tok,
                ),
            )
        ).alias("chunk_key"),
        F.count("*").cast("bigint").alias("chunk_len"),
    )
    return chunks.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_chunks"),
        F.countDistinct("chunk_key").cast("bigint").alias("n_distinct"),
        # try_divide: an empty corpus has no chunks — the audit emits NULL
        # shares instead of failing (matches DuckDB x/0 -> NULL)
        F.round(
            F.lit(1.0)
            - F.try_divide(F.countDistinct("chunk_key") * F.lit(1.0), F.count("*")),
            6,
        ).alias("dup_share"),
        F.round(
            F.try_divide(F.sum("chunk_len").cast("double"), F.count("*")), 6
        ).alias("mean_len"),
        F.max("chunk_len").cast("bigint").alias("max_len"),
    )
