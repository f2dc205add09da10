"""Round-12 invariants: doubly-robust off-policy identities, the
conformal approx twin's gate, bitext ANN-candidate agreement, and the
partitioned changelog stream reader's contract."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from batch_public_spark.plans import QUERIES
from tests.conftest import SF_DIR


def test_dr_degenerates_to_dm_when_correction_zeroed(spark):
    """The doubly-robust estimator's defining identity: with the IPS
    correction term scaled to zero, V_DR == the direct-model baseline
    EXACTLY (same column, same rounding); at full scale the two must
    differ somewhere (a DR that silently ignores the correction would
    pass any approximate check — this pins both directions)."""
    from batch_public_spark.plans.eval_mining_queries import _dr_policy_frame

    zeroed = _dr_policy_frame(spark, SF_DIR, correction_scale=0.0).collect()
    assert len(zeroed) == 4, zeroed
    for r in zeroed:
        assert r.dr_value == r.dm_model_value, r

    full = {r.c: r for r in _dr_policy_frame(spark, SF_DIR).collect()}
    assert any(
        abs(full[c].dr_value - full[c].dm_model_value) > 1e-6 for c in full
    ), "DR correction is identically zero across every context"


def test_dr_sits_between_estimator_identities(spark):
    """Cross-estimator consistency from EMITTED columns only: the DR
    correction reconstructed as ips − dm·(match rate)/p̂ must agree with
    dr − dm (round-6 columns ⇒ loose tolerance), and SNIPS must be a
    convex combination of the per-context matched-reward means (it is a
    weighted average of them), hence inside their [min, max]."""
    rows = QUERIES["eval_dr_policy_value"].fn(spark, SF_DIR).collect()
    assert len(rows) == 4
    means = []
    for r in rows:
        assert 0.0 < r.propensity < 1.0, r
        assert 0 <= r.n_match <= r.n_logs, r
        expected_corr = r.ips_value - r.dm_model_value * (r.n_match / r.n_logs) / r.propensity
        assert abs((r.dr_value - r.dm_model_value) - expected_corr) < 5e-3 * max(
            1.0, abs(r.ips_value)
        ), (r, expected_corr)
        if r.n_match:
            means.append(r.ips_value * r.n_logs * r.propensity / r.n_match)
    snips = rows[0].snips_value
    assert all(r.snips_value == snips for r in rows)
    assert min(means) - 1e-3 <= snips <= max(means) + 1e-3, (snips, means)


def test_bitext_ann_agrees_with_exact_twin(spark):
    """The ANN-candidate production shape vs its exact oracle-hashed
    anchor (llmops_bitext_margin_mining), same even/odd pools: mined-pair
    recall AND precision >= 0.75 (measured 0.85-0.89 across
    sf0.001/0.01/0.1), and on every commonly-mined pair the exact-cosine
    column is IDENTICAL (both paths compute true cosine on the pair;
    only candidate membership is approximate)."""
    exact = {
        (r.a_id, r.b_id): r.cosine
        for r in QUERIES["llmops_bitext_margin_mining"].fn(spark, SF_DIR).collect()
    }
    ann = {
        (r.a_id, r.b_id): r.cosine
        for r in QUERIES["llmops_bitext_margin_ann"].fn(spark, SF_DIR).collect()
    }
    assert len(exact) > 20 and len(ann) > 20, (len(exact), len(ann))
    common = set(exact) & set(ann)
    recall = len(common) / len(exact)
    precision = len(common) / len(ann)
    assert recall >= 0.75, (recall, len(exact), len(ann))
    assert precision >= 0.75, (precision, len(exact), len(ann))
    for pair in common:
        assert exact[pair] == ann[pair], (pair, exact[pair], ann[pair])


def test_cusum_alarms_on_injected_shift(spark):
    """The CUSUM alarm path, exercised (the corpus fixture is in-control
    so the registered query's alarm column is attested all-false): a
    30-day series with a +2.5-sd sustained step at day 20 must alarm
    AFTER the shift and never before; the cusum must reset to ~0 in the
    in-control head and be monotone-increasing once the shift's drift
    dominates."""
    from batch_public_spark.plans.stats_queries import _cusum_frame

    rows = [("a", d, 10, 50.0 + (0.5 if d % 2 else -0.5) + (25.0 if d >= 20 else 0.0))
            for d in range(30)]
    daily = spark.createDataFrame(rows, "event_type string, day long, n long, dm double")
    out = {r.day: r for r in _cusum_frame(daily).collect()}
    assert len(out) == 30
    pre_alarms = [d for d in range(20) if out[d].alarm]
    post_alarms = [d for d in range(20, 30) if out[d].alarm]
    assert not pre_alarms, pre_alarms
    # retrospective standardization pools the shifted days into the sd,
    # so detection lags a few days past the h/(z-k) ideal — day 24 here
    assert post_alarms and min(post_alarms) <= 25, post_alarms
    # in-control head hovers near zero; post-shift trajectory climbs
    assert max(out[d].cusum for d in range(20)) < 4.0
    post = [out[d].cusum for d in range(20, 30)]
    assert all(b > a for a, b in zip(post, post[1:])), post


def test_poisson_bootstrap_ci_brackets_point(spark):
    """Percentile-CI sanity from emitted columns: every type's point mean
    sits strictly inside its replicate [min, max] CI, all 32 replicates
    drew nonzero weight, and the CI is nondegenerate but narrower than
    the point's magnitude (the weights really varied)."""
    rows = QUERIES["eval_poisson_bootstrap_ci"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5, rows
    for r in rows:
        assert r.n_replicates == 32, r
        assert r.ci_lo < r.point_mean < r.ci_hi, r
        assert 0 < r.ci_hi - r.ci_lo < r.point_mean, r


def test_dp_noisy_release_mechanism_math(spark):
    """The Laplace mechanism, re-derived independently (hashlib +
    inverse CDF in plain Python) and matched against the query's emitted
    noisy counts exactly; every group's noise is nonzero (the mechanism
    really perturbed) and within the advertised 6.9078 utility bound;
    true counts are recomputed here (NOT in the release) to check the
    perturbation magnitude."""
    import hashlib
    import math

    from batch_public_spark.sources.tables import load_table

    rows = QUERIES["dq_dp_noisy_release"].fn(spark, SF_DIR).collect()
    truth = {
        r.event_type: r.c
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "c")
        .collect()
    }
    assert len(rows) == len(truth) == 5
    for r in rows:
        h = hashlib.md5(f"dp-v1:{r.event_type}".encode()).hexdigest()[:6]
        u = (int(h, 16) + 0.5) / 16777216.0
        raw = -math.log(1.0 - 2.0 * (u - 0.5)) if u >= 0.5 else math.log(
            1.0 - 2.0 * (0.5 - u)
        )
        nz = round(raw, 6)
        assert abs(r.noisy_count - (truth[r.event_type] + nz)) < 1e-9, (r, nz)
        assert nz != 0.0 and abs(nz) <= 6.907755, (r.event_type, nz)
        assert r.within_utility_bound


def test_unicode_nfc_dedup_merges_all_equivalence_classes(spark):
    """Each canonical-equivalence mechanism in the fixture must merge
    (acute accent, angstrom singleton, Hangul jamo, combining-class
    reorder), the unaccented and ASCII controls must stay singletons,
    and every merged family's survivor is its min doc_id."""
    rows = QUERIES["llmops_unicode_nfc_dedup"].fn(spark, SF_DIR).collect()
    by_survivor = {r.survivor_doc: r for r in rows}
    assert set(by_survivor) == {11, 13, 21, 31, 41, 51}
    assert by_survivor[11].n_variants == 2 and by_survivor[11].any_renormalized
    assert by_survivor[21].n_variants == 3 and by_survivor[21].n_distinct_raw == 3
    assert by_survivor[31].n_variants == 2
    assert by_survivor[41].n_variants == 2
    assert by_survivor[13].n_variants == 1 and not by_survivor[13].any_renormalized
    assert by_survivor[51].n_variants == 1


def test_source_ablation_complement_identity(spark):
    """The leave-one-out shortcut's defining identity, reconstructed
    from emitted round-6 columns: loo_mean == (Nt·corpus − n·mean)/
    (Nt − n) within rounding tolerance for every source, the deltas are
    not all one sign (some sources help, some hurt), and the
    doc-weighted deltas reconcile to ~0 (ablations are zero-sum around
    the corpus mean)."""
    rows = QUERIES["llmops_source_ablation"].fn(spark, SF_DIR).collect()
    assert len(rows) >= 10
    nt = sum(r.n_docs for r in rows)
    corpus = rows[0].corpus_mean
    assert all(r.corpus_mean == corpus for r in rows)
    signs = {r.ablation_delta > 0 for r in rows}
    assert signs == {True, False}, signs
    wsum = 0.0
    for r in rows:
        expected_loo = (nt * corpus - r.n_docs * r.mean_quality) / (nt - r.n_docs)
        assert abs(r.loo_mean - expected_loo) < 5e-5, (r, expected_loo)
        wsum += (nt - r.n_docs) * r.ablation_delta
    assert abs(wsum) < 5e-2 * nt * 1e-3 + 0.05, wsum


def test_filter_disparity_flags_injected_disparity(spark):
    """The four-fifths flag, exercised (the word-salad fixture has no
    real language disparity, so the registered audit's flags are
    attested all-false): a synthetic per-group frame where one group
    retains at half the best group's rate must flag exactly that group,
    and the best group's ratio must be exactly 1."""
    from batch_public_spark.plans.llmops_queries import _four_fifths_verdict

    per = spark.createDataFrame(
        [("maj", 1000, 800), ("ok", 500, 350), ("min", 400, 160)],
        "lang string, n_docs long, n_retained long",
    )
    rows = {r.lang: r for r in _four_fifths_verdict(per).collect()}
    assert rows["maj"].ratio_vs_best == 1.0 and not rows["maj"].four_fifths_flag
    assert not rows["ok"].four_fifths_flag           # 0.7/0.8 = 0.875
    assert rows["min"].four_fifths_flag              # 0.4/0.8 = 0.5
    assert rows["min"].ratio_vs_best == 0.5
