"""Mathematical invariants for the r8 third-batch operators — properties
the DuckDB parity hash can't express (it pins equality, not meaning):
sign couplings, algebraic identities, bound checks, and construction
guarantees that must hold at EVERY scale factor, not just the attested
fixture.
"""

from __future__ import annotations

from batch_public_spark.plans import QUERIES
from tests.conftest import SF_DIR


def _rows(spark, name):
    return QUERIES[name].fn(spark, SF_DIR).collect()


def test_welch_t_sign_tracks_mean_gap(spark):
    for r in _rows(spark, "dq_welch_ttest_drift"):
        if r.t_stat is not None and r.mean_gap != 0:
            assert (r.t_stat > 0) == (r.mean_gap > 0), r
        if r.df_welch is not None:
            # Welch-Satterthwaite df is at most the pooled df.
            assert 0 < r.df_welch, r


def test_theil_sen_pair_count_is_grid_choose_2(spark):
    for r in _rows(spark, "agg_theil_sen_slope"):
        assert r.n_pairs == r.n_months * (r.n_months - 1) // 2, r


def test_holt_forecast_is_level_plus_trend(spark):
    for r in _rows(spark, "events_holt_linear"):
        assert abs(r.forecast_next - (r.level + r.trend)) < 2e-6, r


def test_burstiness_identity_and_bounds(spark):
    for r in _rows(spark, "events_burstiness"):
        if r.burstiness is None:
            continue
        assert -1 < r.burstiness < 1, r
        assert r.cv is not None and r.cv > 0, r
        # B = (sigma-mu)/(sigma+mu) == (cv-1)/(cv+1)
        ident = (r.cv - 1) / (r.cv + 1)
        assert abs(r.burstiness - ident) < 1e-5, r


def test_code_detector_separates_both_classes_exactly(spark):
    rows = _rows(spark, "llmops_code_detect")
    inj = [r for r in rows if r.injected]
    clean = [r for r in rows if not r.injected]
    assert inj and clean, "md5 keying must produce both classes"
    for r in inj:
        assert r.is_code, f"injected doc {r.doc_id} not flagged"
    for r in clean:
        assert not r.is_code, f"clean doc {r.doc_id} falsely flagged"


def test_fk_audit_matches_independent_ground_truth(spark, ddb):
    rows = {r.rule: r for r in _rows(spark, "dq_fk_orphan_audit")}
    ev = ddb.sql(
        "SELECT count(*) FROM events WHERE event_id % 97 = 0"
    ).fetchone()[0]
    ords = ddb.sql(
        "SELECT count(*) FROM orders WHERE o_orderkey % 101 = 0"
    ).fetchone()[0]
    assert rows["events.user_id -> customer.c_custkey"].n_orphan_rows == ev
    assert rows["orders.o_custkey -> customer.c_custkey"].n_orphan_rows == ords
    # lineitem -> orders is genuinely clean (keys were bumped on the
    # custkey side only)
    assert rows["lineitem.l_orderkey -> orders.o_orderkey"].n_orphan_rows == 0


def test_ols_matches_numpy_lstsq(spark, ddb):
    """The closed-form normal-equation solve must agree with an
    independent least-squares implementation on the same rows."""
    import numpy as np

    got = {r.flag: r for r in _rows(spark, "agg_ols_two_feature")}
    pdf = ddb.sql(
        """
        SELECT l_returnflag AS flag,
               CAST(l_quantity AS BIGINT) AS x1,
               CAST(round(l_discount * 100, 0) AS BIGINT) AS x2,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        FROM lineitem
        """
    ).df()
    for flag, g in pdf.groupby("flag"):
        a = np.column_stack(
            [g.x1.to_numpy(float), g.x2.to_numpy(float), np.ones(len(g))]
        )
        coef, *_ = np.linalg.lstsq(a, g.y.to_numpy(float), rcond=None)
        r = got[flag]
        assert r.b_qty is not None, r
        assert abs(r.b_qty - coef[0]) < max(1e-3, 1e-6 * abs(coef[0])), (flag, r, coef)
        assert abs(r.b_disc - coef[1]) < max(1e-3, 1e-6 * abs(coef[1])), (flag, r, coef)
        assert abs(r.intercept_cents - coef[2]) < max(
            1e-2, 1e-6 * abs(coef[2])
        ), (flag, r, coef)


def test_nprobe_recall_is_monotone(spark):
    rows = {r.nprobe: r for r in _rows(spark, "llmops_ann_nprobe_sweep")}
    assert set(rows) == {1, 2, 4}
    assert rows[1].n_hits <= rows[2].n_hits <= rows[4].n_hits, rows
    for r in rows.values():
        assert 0 <= r.recall_at_5 <= 1, r


def test_binary_recall_bounded(spark):
    for r in _rows(spark, "llmops_binary_embedding_recall"):
        assert 0 <= r.recall_at_10 <= 1, r


def test_forecast_backtest_error_metrics_consistent(spark):
    (r,) = _rows(spark, "events_forecast_backtest")
    # RMSE >= MAE always (Jensen); both positive on a non-constant series
    assert r.rmse >= r.mae > 0, r
    assert r.n_forecasts > 0, r


def test_kcenter_radius_is_nonincreasing(spark):
    rows = sorted(_rows(spark, "llmops_kcenter_seeding"), key=lambda r: r.seed_rank)
    assert [r.seed_rank for r in rows] == [1, 2, 3, 4]
    assert len({r.vec_id for r in rows}) == 4, "seeds must be distinct"
    radii = [r.coverage_radius_sq for r in rows[1:]]
    assert all(a >= b > 0 for a, b in zip(radii, radii[1:])), radii


def test_cascade_recall_dominates_raw_hamming(spark):
    """The 50-candidate Hamming shortlist + exact rerank must recall at
    least as much of the true top-10 as raw Hamming@10 — the cascade's
    candidate set contains raw Hamming's by construction."""
    raw = {r.query_id: r.n_overlap for r in _rows(spark, "llmops_binary_embedding_recall")}
    cas = {r.query_id: r.n_overlap for r in _rows(spark, "llmops_rerank_cascade_recall")}
    assert set(raw) == set(cas)
    for qid in raw:
        assert cas[qid] >= raw[qid], (qid, raw[qid], cas[qid])


def test_maxsim_bounds_and_rank_order(spark):
    rows = _rows(spark, "llmops_maxsim_multivector")
    by_q: dict[int, list] = {}
    for r in rows:
        assert -4.0 <= r.maxsim <= 4.0, r  # 4 parts, each cosine in [-1, 1]
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        scores = [r.maxsim for r in rs]
        assert scores == sorted(scores, reverse=True), (q, scores)


def test_mmr_picks_are_distinct_and_first_is_top_rel(spark):
    rows = sorted(_rows(spark, "llmops_mmr_diversified_topk"), key=lambda r: r.pick)
    assert [r.pick for r in rows] == [1, 2, 3]
    assert len({r.vec_id for r in rows}) == 3
    # pick 1 is pure relevance; later picks trade relevance for diversity
    assert rows[0].mmr_score == rows[0].rel
    assert rows[0].rel == max(r.rel for r in rows)


def test_entropy_chain_rule_and_bounds(spark, ddb):
    """H_joint - H_cond = H(prev marginal) by the chain rule; both
    entropies non-negative and H_cond <= H_joint."""
    rows = _rows(spark, "llmops_entropy_rate_bigram")
    assert rows
    for r in rows:
        assert 0 <= r.h_cond_nats <= r.h_joint_nats + 1e-9, r
        # chain rule: recompute H(prev) independently in DuckDB
        hprev = ddb.sql(f"""
          WITH d AS (SELECT doc_id, source,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> length(x) > 0) AS toks
                 FROM documents WHERE source = '{r.source}'),
          trans AS (SELECT lower(toks[CAST(i AS INT)]) AS prev
                    FROM d, UNNEST(range(1, len(toks))) AS t(i)),
          m AS (SELECT prev, count(*) AS n FROM trans GROUP BY 1),
          tot AS (SELECT sum(n) AS nt FROM m)
          SELECT sum(-(n * 1.0e0 / tot.nt) * ln(n * 1.0e0 / tot.nt))
          FROM m CROSS JOIN tot GROUP BY tot.nt
        """).fetchone()[0]
        assert abs((r.h_joint_nats - r.h_cond_nats) - hprev) < 1e-4, (
            r.source,
            r.h_joint_nats - r.h_cond_nats,
            hprev,
        )


def test_ess_bounds(spark):
    for r in _rows(spark, "dq_effective_sample_size"):
        assert 1.0 <= r.ess <= r.n + 1e-6, r
        assert 0 < r.ess_ratio <= 1.0 + 1e-9, r
