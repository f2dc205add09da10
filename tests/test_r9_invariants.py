"""Binding case of the events_rate_limit_sim per-user event cap (first
100 000 events), and invariants for the r9 additions. The fixture SFs
never trip the cap (max per-user event count = 99), so the test plants a
synthetic hot user above it. (The co-presence and witness caps' binding
cases live in tests/test_graph.py.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from batch_public_spark.plans import QUERIES
from tests.test_graph import BASE_TS, _write_events

@pytest.fixture(scope="module")
def hot_user_dir(tmp_path_factory):
    """One user with 100 500 events (> per-key cap 100 000) at 1-second
    gaps, plus one cold user for a second rollup bucket."""
    n = 100_500
    ts = BASE_TS + pd.to_timedelta(np.arange(n), unit="s")
    hot = pd.DataFrame({"ts": ts, "user_id": np.full(n, 7, dtype="int64")})
    cold = pd.DataFrame(
        {
            "ts": BASE_TS + pd.to_timedelta(np.arange(5) * 3600 * 6, unit="s"),
            "user_id": np.full(5, 4, dtype="int64"),
        }
    )
    pdf = pd.concat([hot, cold], ignore_index=True)
    pdf["event_type"] = "view"
    return _write_events(tmp_path_factory.mktemp("hotuser"), pdf)


def test_rate_limit_per_user_cap_binds(spark, hot_user_dir):
    """The fold must see exactly the first 100 000 events of the hot user
    — n_events reports the CAPPED stream, so one pathological key can't
    materialize its whole history in a single task row. (The DuckDB
    recursive oracle mirrors the cap via its ev CTE's i <= 100000 filter;
    running 100k recursion steps in-process is impractical, so the oracle
    side here is pinned textually + by the sf-fixture hash.)"""
    sdf = QUERIES["events_rate_limit_sim"].fn(spark, hot_user_dir)
    rows = {r.user_bucket: r for r in sdf.collect()}
    assert rows[7].n_events == 100_000
    assert rows[4].n_events == 5
    # 1-second gaps against a 7200 s/token refill: essentially everything
    # after the 2-token burst is rejected
    assert rows[7].n_rejected >= 99_000
    assert "i <= 100000" in QUERIES["events_rate_limit_sim"].oracle


# --- invariants for the r9 additions (properties the parity hash can't
# express: identities, bounds, stochasticity) ---


def _rows(spark, name):
    from tests.conftest import SF_DIR

    return QUERIES[name].fn(spark, SF_DIR).collect()


def test_markov_rows_are_stochastic(spark):
    """Smoothed probabilities in each prev-row sum to 1 (within rounding)
    and every cell is strictly positive (Laplace floor)."""
    rows = _rows(spark, "events_markov_transitions")
    assert len(rows) == 25
    by_prev: dict = {}
    for r in rows:
        assert r.p_smoothed > 0, r
        by_prev.setdefault(r.prev, []).append(r.p_smoothed)
    for prev, ps in by_prev.items():
        assert abs(sum(ps) - 1.0) < 5e-6, (prev, sum(ps))


def test_mase_components_positive_and_ratio_consistent(spark):
    for r in _rows(spark, "events_seasonal_mase"):
        assert r.mae_naive > 0 and r.mae_snaive > 0, r
        assert abs(r.mase_ratio - r.mae_snaive / r.mae_naive) < 1e-5, r


def test_gopher_reject_counts_bounded_by_docs(spark):
    rows = _rows(spark, "llmops_gopher_reject_rates")
    assert rows
    for r in rows:
        for c in ("rej_ttr", "rej_topword", "rej_wordlen", "rej_stopword"):
            assert 0 <= getattr(r, c) <= r.n_docs, r
        assert 0 <= r.reject_rate_any <= 1, r
        # any-rate can't be below the largest single rule's rate
        assert r.reject_rate_any * r.n_docs + 1e-6 >= max(
            r.rej_ttr, r.rej_topword, r.rej_wordlen, r.rej_stopword
        ), r


def test_domain_reweight_weights_clamped_and_consistent(spark):
    rows = _rows(spark, "llmops_domain_reweight")
    assert rows
    for r in rows:
        assert 0.1 <= r.weight <= 2.0, r
        if r.capped:
            assert r.weight == 2.0, r
        assert abs(r.effective_tokens - r.n_tokens * r.weight) <= 0.5 + 1e-6 * r.n_tokens, r
    # shares are a distribution
    assert abs(sum(r.actual_share for r in rows) - 1.0) < 5e-5


def test_knn_audit_counts_consistent(spark):
    (r,) = _rows(spark, "llmops_knn_graph_audit")
    assert r.n_edges == r.n_queries * 5
    assert r.n_neighbors <= r.n_edges
    assert 0 <= r.n_reciprocal <= r.n_edges
    assert abs(r.mean_k_occurrence - r.n_edges / r.n_neighbors) < 1e-5
    assert r.max_k_occurrence >= 1


def test_arrival_gap_rates_consistent(spark):
    for r in _rows(spark, "dq_arrival_gap_audit"):
        assert r.max_gap_s >= r.mean_gap_s, r
        assert 0 <= r.stall_rate <= 1, r
        assert r.n_gaps_gt_1h <= r.n_gaps, r


def test_lifecycle_identity_and_flow_balance(spark):
    rows = sorted(_rows(spark, "events_user_lifecycle_states"), key=lambda r: r.day_index)
    assert rows
    for r in rows:
        assert r.n_active == r.n_new + r.n_retained + r.n_resurrected, r
    # flow balance: active_t = active_{t-1} + new_t + resurrected_t - churned_t
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_active == prev.n_active + cur.n_new + cur.n_resurrected - cur.n_churned, (
            prev,
            cur,
        )
    # daily grain must exercise every state somewhere in the window
    assert sum(r.n_resurrected for r in rows) > 0
    assert sum(r.n_churned for r in rows) > 0


def test_ratio_ci_brackets_point_estimate(spark):
    for r in _rows(spark, "agg_ratio_delta_method_ci"):
        assert r.se > 0, r
        assert r.ci_lo < r.ratio_cents_per_order < r.ci_hi, r
        assert abs((r.ci_hi - r.ci_lo) - 2 * 1.96 * r.se) < 2e-5, r
