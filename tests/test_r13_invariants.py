"""Round-13 invariants: corpus-build reconciliation, privacy and
hypothesis-test operators, tokenizer statistics. (The BPE and WordPiece
trainer tests live in tests/test_llmops.py.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_public_spark.plans import QUERIES
from tests.conftest import SF_DIR


def test_mondrian_fallback_fires_exactly_for_small_groups(spark):
    """Coverage-per-group invariant beside the marginal gate (verdict-r12
    item #6): the skewed fixture's rare groups (rare_e / rare_f, 1/16 of
    calibration mass each) must use the coarse-parent fallback at every
    SF, the major/mid groups must not; the fallback rule is exactly
    n_calib*10 < N (recomputed from the emitted columns); qhat_used
    switches accordingly; and each NON-fallback group's realized test
    coverage honors the conformal bound within binomial noise
    (>= 0.9 - 3*sqrt(0.09/n_test))."""
    rows = {
        r.g: r
        for r in QUERIES["eval_conformal_mondrian"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {"major0", "major1", "mid", "rare_e", "rare_f"}
    n_total = sum(r.n_calib for r in rows.values())
    for r in rows.values():
        assert r.used_fallback == (r.n_calib * 10 < n_total), r
        assert r.qhat_used == (r.qhat_coarse if r.used_fallback else r.qhat_group), r
    assert rows["rare_e"].used_fallback and rows["rare_f"].used_fallback
    assert not any(rows[g].used_fallback for g in ("major0", "major1", "mid"))
    for g in ("major0", "major1", "mid"):
        r = rows[g]
        slack = 3.0 * (0.09 / r.n_test) ** 0.5
        assert r.coverage >= 0.9 - slack, (g, r.coverage, slack)
    # hierarchy is consistent: both rare groups share one coarse parent
    assert rows["rare_e"].gc == rows["rare_f"].gc == "c_rare"
    assert rows["rare_e"].qhat_coarse == rows["rare_f"].qhat_coarse


def test_dp_accountant_refuses_exactly_at_the_cap(spark):
    """Refusal invariant (verdict-r12 item #7): cumulative epsilon under
    basic composition is exactly the ledger prefix sums [0.8, 1.4, 1.9,
    2.6, 3.5, 4.0]; grants flip to refusals exactly when the running sum
    first exceeds the 3.0 cap (hard-stop: request 5 AND everything
    after); refused releases emit NULL noisy_value / NULL bound verdict
    (the true statistic never leaves); granted noise respects the
    per-release scale (|noisy - true| <= (sens/eps) * 6.907755 for
    within-bound rows, checked on the count releases whose true value
    is recomputable exactly)."""
    import duckdb as _dk

    rows = sorted(
        QUERIES["dq_dp_budget_accountant"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.seq,
    )
    assert [r.seq for r in rows] == [1, 2, 3, 4, 5, 6]
    assert [round(r.cum_epsilon, 3) for r in rows] == [0.8, 1.4, 1.9, 2.6, 3.5, 4.0]
    assert [r.granted for r in rows] == [True, True, True, True, False, False]
    for r in rows:
        if r.granted:
            assert r.noisy_value is not None and r.within_utility_bound is not None
        else:
            assert r.noisy_value is None and r.within_utility_bound is None
    n_events = _dk.sql(
        f"SELECT count(*) FROM '{SF_DIR}/events.parquet'"
    ).fetchall()[0][0]
    r1 = rows[0]
    assert r1.release == "n_events"
    if r1.within_utility_bound:
        assert abs(r1.noisy_value - n_events) <= (1.0 / 0.8) * 6.907755 + 1e-6


# ---------------------------------------------------------------------------
# r13 second wave: l-diversity, Mann-Kendall, log-rank
# ---------------------------------------------------------------------------


def test_l_diversity_flags_injected_homogeneous_group(spark, tmp_path):
    """The homogeneity-attack path, exercised (the customer fixture is
    diverse enough that the registered audit's counters move but prove
    little in isolation): a QI class whose members all share one
    sensitive band must violate BOTH the distinct-l and entropy gates,
    while a 4-band uniform class passes both."""
    rows = [(1, "A", 100.0)] * 10 + [
        (2, "B", float(b * 2000 + 100)) for b in (0, 1, 2, 3) for _ in range(3)
    ]
    spark.createDataFrame(
        rows, "c_nationkey long, c_mktsegment string, c_acctbal double"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    (r,) = QUERIES["dq_l_diversity"].fn(spark, str(tmp_path)).collect()
    assert r.n_groups == 2
    assert r.l_actual == 1
    assert r.violating_groups == 1 and r.exposed_rows == 10
    assert r.entropy_violating_groups == 1
    assert r.min_entropy == 0.0
    assert abs(r.exposed_share - 10 / 22) < 1e-6


def test_l_diversity_entropy_gate_is_stricter_on_fixture(spark):
    """Theorem (entropy <= ln(distinct)): every group failing distinct-l
    also fails the entropy form, so entropy_violating_groups >=
    violating_groups — checked on the real fixture, plus basic sanity
    of the audit roll-up."""
    (r,) = QUERIES["dq_l_diversity"].fn(spark, SF_DIR).collect()
    assert r.entropy_violating_groups >= r.violating_groups
    assert 1 <= r.l_actual
    assert 0.0 <= r.exposed_share <= 1.0
    assert r.min_entropy >= 0.0


def test_mann_kendall_detects_injected_monotone_trend(spark, tmp_path):
    """Directional alarm paths: a strictly increasing 24-month series
    must reach the maximal S = n(n-1)/2 and verdict 'increasing', its
    mirror 'decreasing', and a constant series must land exactly on
    S = 0, tie-saturated Var(S) = 0, z = 0, 'none'."""
    import datetime

    rows = []
    for i in range(24):
        d = datetime.date(2024, 1, 1) + datetime.timedelta(days=31 * i)
        d = d.replace(day=1)
        rows.append(("UP", d, 100.0 + 10.0 * i))
        rows.append(("DOWN", d, 1000.0 - 10.0 * i))
        rows.append(("FLAT", d, 500.0))
    spark.createDataFrame(
        rows, "o_orderpriority string, o_orderdate date, o_totalprice double"
    ).write.parquet(str(tmp_path / "orders.parquet"))
    out = {
        r.prio: r
        for r in QUERIES["dq_mann_kendall_trend"].fn(spark, str(tmp_path)).collect()
    }
    n = 24
    assert out["UP"].s_stat == n * (n - 1) // 2
    assert out["UP"].trend == "increasing"
    assert out["DOWN"].s_stat == -n * (n - 1) // 2
    assert out["DOWN"].trend == "decreasing"
    assert out["FLAT"].s_stat == 0
    assert out["FLAT"].var_s == 0.0
    assert out["FLAT"].z_stat == 0.0
    assert out["FLAT"].trend == "none"


def test_mann_kendall_sign_agrees_with_theil_sen(spark):
    """Cross-query theorem: S > 0 implies more up-pairs than down-pairs,
    which forces the median pairwise slope (Theil-Sen) to be >= 0 —
    and symmetrically for S < 0. The test pins the estimator/test pair
    to the same monthly grid on the real fixture."""
    mk = {
        r.prio: r for r in QUERIES["dq_mann_kendall_trend"].fn(spark, SF_DIR).collect()
    }
    ts = {
        r.prio: r for r in QUERIES["agg_theil_sen_slope"].fn(spark, SF_DIR).collect()
    }
    assert set(mk) == set(ts)
    for prio, r in mk.items():
        if r.s_stat > 0:
            assert ts[prio].sen_slope >= 0.0, prio
        elif r.s_stat < 0:
            assert ts[prio].sen_slope <= 0.0, prio


def test_logrank_rejects_on_injected_cohort_effect(spark, tmp_path):
    """The rejection path, exercised: cohort 0 (even users) churns its
    whole risk set on day 1 while cohort 1 survives to day 10, so
    observed early churn d1 far exceeds its hypergeometric expectation
    and the test must reject with z > 0."""
    import datetime

    base = datetime.datetime(2024, 3, 1)
    rows = []
    for u in range(20):
        last = 1 if u % 2 == 0 else 10
        for day in (0, last):
            rows.append((u, "click", base + datetime.timedelta(days=day)))
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    ).write.parquet(str(tmp_path / "events.parquet"))
    (r,) = QUERIES["events_logrank_test"].fn(spark, str(tmp_path)).collect()
    assert r.o1 == 10 and r.o2 == 10
    assert r.reject_null is True
    assert r.z_stat > 1.959964
    # day 1: n1=n2=10, d=10 => e1=5, v=100*100/(400*19)*10... oe_sum=+5
    assert abs(r.oe_sum - 5.0) < 1e-6


def test_logrank_total_churn_reconciles_with_spans(spark):
    """Every per-(user, event_type) stream churns exactly once, so
    o1 + o2 must equal the span count on the real fixture; expectations
    must sum to observations (e1 + e2 == o1 + o2 by construction, so
    e1 = o1 - oe_sum stays within the churn totals)."""
    (r,) = QUERIES["events_logrank_test"].fn(spark, SF_DIR).collect()
    n_spans = (
        QUERIES["events_logrank_test"]
        .fn.__globals__["t"](spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert r.o1 + r.o2 == n_spans
    assert 0.0 < r.e1 < r.o1 + r.o2
    assert r.var_sum > 0.0


def test_nb_distill_label_flip_negates_scores_exactly(spark):
    """Antisymmetry of the NB trainer: retraining with the teacher labels
    flipped swaps the two ln terms in every weight and in the prior
    (both are spelled as differences of lns, never ln of a ratio), so
    every document's score must negate EXACTLY — decimal equality, not
    tolerance. Pins that the learned weights are a pure function of the
    class-conditional counts with no hidden asymmetry."""
    from batch_public_spark.operators.textops import quality_score
    from batch_public_spark.plans.curation_queries import _nb_distill_scored
    from batch_public_spark.sources.tables import load_table

    d = load_table(spark, SF_DIR, "documents")
    q6 = F.round(quality_score(F.col("text")), 6).cast("decimal(10,6)")
    qd = d.select("doc_id", "lang", "text", q6.alias("q"))
    qbar = qd.agg((F.sum("q").cast("double") / F.count("*")).alias("qbar"))
    lab = qd.crossJoin(F.broadcast(qbar)).select(
        "doc_id", "lang",
        (F.col("q").cast("double") >= F.col("qbar")).alias("pos"), "text",
    )
    occ = lab.select(
        "doc_id", "pos",
        F.explode(F.transform(F.split(F.trim(F.col("text")), r"\s+"), F.lower)).alias("tok"),
    ).filter(F.length("tok") > 0)
    base = _nb_distill_scored(lab.drop("text"), occ)
    flipped = _nb_distill_scored(
        lab.drop("text").withColumn("pos", ~F.col("pos")),
        occ.withColumn("pos", ~F.col("pos")),
    )
    joined = (
        base.select("doc_id", F.col("s").alias("s0"))
        .join(flipped.select("doc_id", F.col("s").alias("s1")), "doc_id")
        .collect()
    )
    assert len(joined) > 100
    for r in joined:
        assert r.s1 == -r.s0, (r.doc_id, r.s0, r.s1)


def test_nb_distill_beats_marginal_agreement(spark):
    """The distilled student must carry real signal: pooled agreement
    with the teacher must exceed the best constant predictor's (the
    majority class share) — the minimal bar any trained classifier must
    clear — and per-language keep counts must stay within bounds."""
    rows = QUERIES["llmops_nb_quality_distill"].fn(spark, SF_DIR).collect()
    n = sum(r.n_docs for r in rows)
    teach = sum(r.teacher_keep for r in rows)
    agree = sum(r.n_agree for r in rows)
    majority = max(teach, n - teach) / n
    assert agree / n > majority, (agree / n, majority)
    for r in rows:
        assert 0 <= r.student_keep <= r.n_docs
        assert 0 <= r.n_agree <= r.n_docs


def test_t_closeness_flags_injected_skewed_group(spark, tmp_path):
    """The skewness-attack path with hand-computed EMD: a class fully
    concentrated in band 0 against a (0.4,0.2,0.2,0.2) global marginal
    has cumulative diffs (0.6,0.4,0.2,0) => t = 1.2/3 = 0.4 (violating);
    a uniform 4-band class has (0.15,0.1,0.05,0) => t = 0.1 (clean)."""
    rows = [(1, "A", 100.0)] * 10 + [
        (2, "B", float(b * 2000 + 100)) for b in (0, 1, 2, 3) for _ in range(10)
    ]
    spark.createDataFrame(
        rows, "c_nationkey long, c_mktsegment string, c_acctbal double"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    (r,) = QUERIES["dq_t_closeness"].fn(spark, str(tmp_path)).collect()
    assert r.n_groups == 2
    assert r.violating_groups == 1
    assert abs(r.t_actual - 0.4) < 1e-9
    assert abs(r.mean_t - 0.25) < 1e-9


def test_t_closeness_bounds_on_fixture(spark):
    """EMD over probability vectors with unit ground distance is bounded
    in [0, 1]; the fixture audit must respect it and violating_groups
    must be consistent with t_actual vs the 0.2 literal."""
    (r,) = QUERIES["dq_t_closeness"].fn(spark, SF_DIR).collect()
    assert 0.0 <= r.mean_t <= r.t_actual <= 1.0
    if r.t_actual > 0.2:
        assert r.violating_groups >= 1
    else:
        assert r.violating_groups == 0


def test_permutation_test_rejects_on_injected_effect(spark, tmp_path):
    """The rejection path, exercised (the fixture's even/odd assignment
    is arbitrary so the registered verdict attests the calm path): with
    even docs 10x longer than odd ones the observed gap dwarfs every
    random-reassignment replicate, so n_extreme = 0 and the add-one
    p-value is exactly 1/33 — below the 0.05 gate."""
    rows = [(i, 1000 if i % 2 == 0 else 100) for i in range(200)]
    spark.createDataFrame(rows, "doc_id long, n_chars long").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    (r,) = QUERIES["dq_permutation_test"].fn(spark, str(tmp_path)).collect()
    assert r.gap_obs == 900.0
    assert r.n_extreme == 0
    assert abs(r.p_value - 1 / 33) < 1e-6
    assert r.reject_null is True


def test_permutation_test_pvalue_reconstruction(spark):
    """Emitted-column consistency on the fixture: p_value must equal
    (1 + n_extreme)/(B + 1) exactly, extremeness is bounded by B, and
    the coin margins stay near half (binomial assignment sanity)."""
    (r,) = QUERIES["dq_permutation_test"].fn(spark, SF_DIR).collect()
    assert r.n_replicates == 32
    assert 0 <= r.n_extreme <= 32
    assert abs(r.p_value - (1 + r.n_extreme) / 33) < 1e-6
    assert r.reject_null == (r.p_value <= 0.05)


def test_cuped_recovers_exact_effect_on_injected_panel(spark, tmp_path):
    """Hand-computable CUPED: paired users (2k, 2k+1) share base rate
    r = 5 + (k mod 7); everyone emits r pre-period events and r + 3*treat
    post-period events (treat = parity). The covariate is then exactly
    balanced and perfectly predictive: theta == 1, both gaps == 3
    (the true effect), and the adjusted variance equals 9*var(treat)
    = 2.25 exactly — all closed-form, asserted with equality."""
    import datetime

    base = datetime.datetime(2024, 5, 1)
    rows = []
    for u in range(40):
        r = 5 + (u // 2) % 7
        for i in range(r):
            rows.append((u, "e", base + datetime.timedelta(minutes=i)))
        for i in range(r + 3 * (u % 2)):
            rows.append((u, "e", base + datetime.timedelta(days=19, minutes=i)))
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    ).write.parquet(str(tmp_path / "events.parquet"))
    (r,) = QUERIES["events_cuped_adjustment"].fn(spark, str(tmp_path)).collect()
    assert r.n_users == 40 and r.n_treat == 20
    assert r.theta == 1.0
    assert r.gap_raw == 3.0
    assert r.gap_cuped == 3.0
    assert r.var_y_cuped == 2.25


def test_cuped_bounds_on_fixture(spark):
    """rho^2 is a squared correlation (Cauchy-Schwarz): var_reduction in
    [0, 1]; the adjusted variance is nonnegative; theta is finite."""
    (r,) = QUERIES["events_cuped_adjustment"].fn(spark, SF_DIR).collect()
    assert 0.0 <= r.var_reduction <= 1.0
    assert r.var_y_cuped >= 0.0
    import math

    assert math.isfinite(r.theta)


def test_hits_authority_vector_properties(spark):
    """HITS invariants on the fixture: the final authority vector is a
    (rounded) L1-normalized probability vector (sums to 1 within the
    round-6 emission grain), ranks are a dense 1..n permutation ordered
    by authority, and every event type carries positive mass."""
    rows = sorted(
        QUERIES["events_hits_bipartite"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.auth_rank,
    )
    assert [r.auth_rank for r in rows] == list(range(1, len(rows) + 1))
    assert all(r.authority > 0 for r in rows)
    assert abs(sum(r.authority for r in rows) - 1.0) < 1e-5 * len(rows)
    auths = [r.authority for r in rows]
    assert auths == sorted(auths, reverse=True)


def test_hits_uniform_graph_gives_uniform_authority(spark, tmp_path):
    """Degenerate-graph pin: if every user hits every event type exactly
    once, mutual reinforcement has nothing to distinguish — both rounds
    must emit the exactly uniform authority vector."""
    import datetime

    base = datetime.datetime(2024, 6, 1)
    rows = [
        (u, et, base + datetime.timedelta(minutes=u))
        for u in range(12)
        for et in ("a", "b", "c", "d")
    ]
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["events_hits_bipartite"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 4
    assert all(r.authority == 0.25 for r in out)


def test_good_turing_reconciles_with_direct_counts(spark):
    """Independent re-derivation: the emitted scalars (s_obs, n_tokens,
    unseen mass, Chao1) must match a direct DuckDB trigram count, and
    the Good-Turing identities must hold row-wise: r* = (r+1)N_{r+1}/N_r
    recomputed from adjacent emitted rows, unseen_mass = N_1/N."""
    import duckdb

    rows = {
        r.r: r for r in QUERIES["llmops_good_turing_unseen"].fn(spark, SF_DIR).collect()
    }
    con = duckdb.connect()
    s_obs, n_tok, n1, n2 = con.sql(
        rf"""
        WITH tk AS (
          SELECT list_transform(list_filter(string_split_regex(trim(text), '\s+'),
                                            x -> length(x) > 0), x -> lower(x)) AS toks
          FROM '{SF_DIR}/documents.parquet'
        ), tg AS (
          SELECT unnest(toks[1:length(toks)-2]) AS w1,
                 unnest(toks[2:length(toks)-1]) AS w2,
                 unnest(toks[3:length(toks)]) AS w3
          FROM tk WHERE length(toks) >= 3
        ), c AS (SELECT w1 || ' ' || w2 || ' ' || w3 AS ng, count(*) AS r
                 FROM tg GROUP BY 1)
        SELECT count(*), sum(r),
               coalesce(sum(CASE WHEN r = 1 THEN 1 END), 0),
               coalesce(sum(CASE WHEN r = 2 THEN 1 END), 0)
        FROM c
        """
    ).fetchone()
    any_row = next(iter(rows.values()))
    assert any_row.s_obs == s_obs and any_row.n_tokens == n_tok
    assert abs(any_row.unseen_mass - n1 / n_tok) < 1e-6
    assert abs(any_row.chao1_richness - (s_obs + n1 * (n1 - 1) / (2 * (n2 + 1)))) < 1e-5
    assert any_row.chao1_richness >= s_obs
    if 1 in rows and 2 in rows:
        r1, r2 = rows[1], rows[2]
        assert abs(r1.r_star - 2 * r2.n_r / r1.n_r) < 1e-6


def test_cdc_chunking_is_shift_resistant(spark, tmp_path):
    """The property that justifies content-defined over fixed-size
    chunking: prepending ONE token to a document leaves every chunk
    after the first boundary byte-identical. With doc2 = 'zzz' + doc1,
    all of doc1's chunks except (at most) its first are shared, so the
    distinct count over both docs is exactly k + 1 where k is doc1's
    own chunk count — a fixed-size chunker would share ~none."""
    toks = [f"w{i}" for i in range(200)]
    one = " ".join(toks)
    spark.createDataFrame([(1, one)], "doc_id long, text string").write.parquet(
        str(tmp_path / "solo" / "documents.parquet")
    )
    (solo,) = (
        QUERIES["llmops_cdc_chunking"].fn(spark, str(tmp_path / "solo")).collect()
    )
    k = solo.n_chunks
    assert k >= 5  # the 200-token doc really is multi-chunk
    assert solo.n_distinct == k  # distinct w{i} words => unique chunks
    spark.createDataFrame(
        [(1, one), (2, "zzz " + one)], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "pair" / "documents.parquet"))
    (pair,) = (
        QUERIES["llmops_cdc_chunking"].fn(spark, str(tmp_path / "pair")).collect()
    )
    assert pair.n_distinct == k + 1
    assert pair.dup_share > 0.0


def test_ddsketch_bound_holds_on_fixture(spark):
    """The DDSketch contract: every extracted quantile is within the
    gamma-derived relative-error bound of the exact percentile, and the
    emitted rel_err reconciles with est/exact."""
    rows = QUERIES["agg_ddsketch_quantiles"].fn(spark, SF_DIR).collect()
    assert {r.q for r in rows} == {0.5, 0.95, 0.99}
    for r in rows:
        assert r.within_bound is True, r
        assert abs(r.rel_err - abs(r.est / r.exact - 1.0)) < 1e-5
        assert r.n_buckets >= 10


def test_ddsketch_degenerate_distribution(spark, tmp_path):
    """Single-valued data collapses the sketch to ONE bucket, and the
    bucket-midpoint estimate must still sit inside the relative-error
    bound of the (exact) constant for every quantile."""
    rows = [(i, 100.0) for i in range(50)]
    spark.createDataFrame(rows, "o_orderkey long, o_totalprice double").write.parquet(
        str(tmp_path / "orders.parquet")
    )
    out = QUERIES["agg_ddsketch_quantiles"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 3
    for r in out:
        assert r.n_buckets == 1
        assert r.exact == 100.0
        assert r.within_bound is True
        assert abs(r.est - out[0].est) < 1e-12
