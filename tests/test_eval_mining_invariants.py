"""Semantic invariants of the evaluation / mining / allocation family.

Oracle equality (tests/test_oracle_parity.py) proves both engines compute
the same thing; these pin down WHAT that thing is: allocation quotas that
provably sum to the budget, AUC that agrees with a brute-force pair count,
confusion-matrix marginals that add up, interval islands that never exceed
the naive duration sum, lift that is symmetric in its marginals, and a
Pareto frontier that is genuinely strictly increasing.
"""

from __future__ import annotations

import math
from collections import defaultdict

from batch_public_spark.plans import QUERIES
from batch_public_spark.plans.eval_mining_queries import _COVER_US, _SLOTS
from batch_public_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _rows(spark, name):
    return QUERIES[name].fn(spark, SF_DIR).collect()


def test_allocation_sums_to_budget_and_is_within_one_of_quota(spark):
    """Largest-remainder guarantees: totals hit the budget exactly, and
    every language's final allocation is within 1 of its exact quota
    (the 'quota rule' that makes Hamilton apportionment defensible)."""
    rows = _rows(spark, "llmops_largest_remainder_allocation")
    assert sum(r.final_alloc for r in rows) == _SLOTS
    total = sum(r.n_docs for r in rows)
    for r in rows:
        quota = _SLOTS * r.n_docs / total
        assert math.floor(quota) <= r.final_alloc <= math.ceil(quota)
        assert r.extra in (0, 1)
        assert r.final_alloc == r.base_alloc + r.extra


def test_auc_matches_bruteforce_pair_count(spark):
    """AUC from the grid/rank formulation equals the direct definition:
    (wins + ties/2) / (n_pos * n_neg) over all positive-negative pairs."""
    [row] = _rows(spark, "llmops_score_auc")
    docs = load_table(spark, SF_DIR, "documents").select("n_chars", "lang").collect()
    pos = [d.n_chars for d in docs if d.lang == "en"]
    neg = [d.n_chars for d in docs if d.lang != "en"]
    assert (row.n_pos, row.n_neg) == (len(pos), len(neg))
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    expected = (wins + ties / 2.0) / (len(pos) * len(neg))
    assert abs(row.auc - expected) < 1e-6
    assert 0.0 <= row.auc <= 1.0


def test_prf_marginals_add_up(spark):
    """tp+fn == support per class; Σ(tp+fp) == Σ support == corpus size;
    precision/recall/f1 all in [0, 1]."""
    rows = _rows(spark, "llmops_classifier_prf")
    total = load_table(spark, SF_DIR, "documents").count()
    assert sum(r.support for r in rows) == total
    assert sum(r.tp + r.fp for r in rows) == total  # predictions partition too
    for r in rows:
        assert r.tp + r.fn == r.support
        for m in (r.precision, r.recall, r.f1):
            assert 0.0 <= m <= 1.0
        if r.precision + r.recall > 0 and r.tp > 0:
            hm = 2 * r.precision * r.recall / (r.precision + r.recall)
            assert abs(r.f1 - hm) < 1e-5


def test_ece_bins_partition_corpus_and_terms_bounded(spark):
    rows = _rows(spark, "llmops_calibration_ece")
    total = load_table(spark, SF_DIR, "documents").count()
    assert sum(r.n for r in rows) == total
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.avg_conf <= 1.0
        assert 0.0 <= r.pos_rate <= 1.0
        # term = share * |conf - rate| <= share <= 1
        assert 0.0 <= r.ece_term <= r.n / total + 1e-9


def test_interval_coalesce_bounds(spark):
    """Each user's covered time is at least one cover-window, at most the
    naive (double-counting) sum, and the max island never exceeds the
    total; island count never exceeds event count."""
    rows = _rows(spark, "events_interval_coalesce")
    ev_counts = defaultdict(int)
    for e in load_table(spark, SF_DIR, "events").select("user_id").collect():
        ev_counts[e.user_id] += 1
    assert set(ev_counts) == {r.user_id for r in rows}
    for r in rows:
        assert r.covered_us >= _COVER_US  # at least one island of one event
        assert r.covered_us <= ev_counts[r.user_id] * _COVER_US  # <= naive sum
        assert r.max_island_us <= r.covered_us
        assert 1 <= r.n_islands <= ev_counts[r.user_id]


def test_lift_matches_bruteforce_baskets(spark):
    """Recompute support/confidence/lift in pure Python from the raw
    (orderkey, brand) baskets and compare every emitted pair."""
    from itertools import combinations

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey").collect()
    part = {
        p.p_partkey: p.p_brand
        for p in load_table(spark, SF_DIR, "part").select("p_partkey", "p_brand").collect()
    }
    baskets = defaultdict(set)
    for x in li:
        baskets[x.l_orderkey].add(part[x.l_partkey])
    n_orders = len(baskets)
    singles = defaultdict(int)
    pairs = defaultdict(int)
    for brands in baskets.values():
        for b in brands:
            singles[b] += 1
        for a, b in combinations(sorted(brands), 2):
            pairs[(a, b)] += 1
    rows = _rows(spark, "mba_brand_pair_lift")
    assert {(r.brand_a, r.brand_b) for r in rows} == set(pairs)
    for r in rows:
        assert r.brand_a < r.brand_b  # canonical orientation, no mirror pairs
        n_ab = pairs[(r.brand_a, r.brand_b)]
        assert r.n_ab == n_ab
        assert abs(r.support - n_ab / n_orders) < 1e-6
        assert abs(r.confidence - n_ab / singles[r.brand_a]) < 1e-6
        assert (
            abs(r.lift - n_ab * n_orders / (singles[r.brand_a] * singles[r.brand_b]))
            < 1e-5
        )


def test_weighted_median_lies_in_quantity_range(spark):
    rows = _rows(spark, "agg_weighted_median")
    li = load_table(spark, SF_DIR, "lineitem").select("l_returnflag", "l_quantity").collect()
    by_flag = defaultdict(list)
    for x in li:
        by_flag[x.l_returnflag].append(x.l_quantity)
    assert set(by_flag) == {r.l_returnflag for r in rows}
    for r in rows:
        qs = by_flag[r.l_returnflag]
        assert min(qs) <= r.weighted_median_qty <= max(qs)


def test_pareto_frontier_strictly_increasing(spark):
    """Within each priority, frontier prices are strictly increasing in
    (date, orderkey) order — the defining property of record points."""
    rows = _rows(spark, "window_pareto_frontier")
    by_prio = defaultdict(list)
    for r in rows:
        by_prio[r.o_orderpriority].append((r.day, r.o_orderkey, r.o_totalprice))
    for prio, pts in by_prio.items():
        pts.sort()
        prices = [p for _, _, p in pts]
        assert all(b > a for a, b in zip(prices, prices[1:])), prio
        # the first record is the partition's first row's price; the last is the max
        assert prices[-1] == max(prices)


def test_skew_kurtosis_match_python_reference(spark):
    """Population skewness/kurtosis recomputed in pure Python from the
    raw rows agree to 1e-6."""
    rows = _rows(spark, "agg_skew_kurtosis_exact")
    li = load_table(spark, SF_DIR, "lineitem").select("l_returnflag", "l_quantity").collect()
    by_flag = defaultdict(list)
    for x in li:
        by_flag[x.l_returnflag].append(float(x.l_quantity))
    for r in rows:
        xs = by_flag[r.l_returnflag]
        n = len(xs)
        mu = sum(xs) / n
        var = sum((x - mu) ** 2 for x in xs) / n
        m3 = sum((x - mu) ** 3 for x in xs) / n
        m4 = sum((x - mu) ** 4 for x in xs) / n
        assert r.n == n
        assert abs(r.mean - mu) < 1e-6
        assert abs(r.variance - var) < 1e-4
        assert abs(r.skewness - m3 / var**1.5) < 1e-4
        assert abs(r.excess_kurtosis - (m4 / var**2 - 3.0)) < 1e-4


def test_dim_stats_cover_all_dims_and_sigma_nonnegative(spark):
    rows = _rows(spark, "llmops_embedding_dim_stats")
    emb = load_table(spark, SF_DIR, "embeddings").select("embedding").first()
    n_dims = len(emb.embedding)
    assert sorted(r.dim for r in rows) == list(range(1, n_dims + 1))
    for r in rows:
        assert r.stddev >= 0.0
        assert r.vmin <= r.mean <= r.vmax


def test_snapshot_diff_classes_consistent_with_simulation(spark):
    """Class counts must match the mod-7/11/13 simulation recomputed
    directly from the fixture's doc_ids."""
    rows = {r.change_kind: r for r in _rows(spark, "dq_snapshot_diff_classify")}
    ids = [
        d.doc_id
        for d in load_table(spark, SF_DIR, "documents").select("doc_id").collect()
    ]
    added = sum(1 for i in ids if i % 13 == 0)
    removed = sum(1 for i in ids if i % 11 == 0)
    changed = sum(1 for i in ids if i % 11 != 0 and i % 7 == 0)
    unchanged = sum(1 for i in ids if i % 11 != 0 and i % 7 != 0)
    assert rows["added"].n_docs == added
    assert rows["removed"].n_docs == removed
    assert rows["changed"].n_docs == changed
    assert rows["unchanged"].n_docs == unchanged
    assert set(rows) == {"added", "removed", "changed", "unchanged"}


def test_twap_bounded_by_value_range(spark):
    rows = _rows(spark, "events_time_weighted_avg")
    ev = load_table(spark, SF_DIR, "events").select("user_id", "value").collect()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e.user_id].append(e.value)
    for r in rows:
        vs = by_user[r.user_id]
        assert min(vs) - 1e-4 <= r.twap <= max(vs) + 1e-4
        assert r.total_us > 0
        assert r.n_segments == len(vs) - 1  # every event but the last opens a segment


def test_interpolate_respects_observations_and_bounds(spark):
    """Observed buckets keep their exact hourly average; gap buckets lie
    between their two anchors (linear interpolation is monotone-bounded);
    each type's grid is a contiguous hourly range."""
    rows = _rows(spark, "events_gapfill_interpolate")
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    for rs in by_type.values():
        rs.sort(key=lambda r: r.bucket)
        # contiguous grid, shared end
        assert len({r.bucket for r in rs}) == len(rs)
        vals = [r.value_interp for r in rs]
        gaps = [r.was_gap for r in rs]
        assert gaps[0] == 0  # grid starts at first observation
        # every gap value is within [min, max] of nearest observed anchors
        obs_idx = [i for i, g in enumerate(gaps) if g == 0]
        for i, r in enumerate(rs):
            if r.was_gap:
                prev = max(j for j in obs_idx if j < i)
                nxts = [j for j in obs_idx if j > i]
                lo_v = vals[prev]
                hi_v = vals[nxts[0]] if nxts else vals[prev]
                assert min(lo_v, hi_v) - 1e-6 <= r.value_interp <= max(lo_v, hi_v) + 1e-6


def test_impute_battery_matches_bruteforce(spark):
    rows = {r.user_id: r for r in _rows(spark, "llmops_impute_battery")}
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_type", "value"
    ).collect()
    by_user = defaultdict(list)
    miss = defaultdict(int)
    for e in ev:
        if e.event_type == "error":
            miss[e.user_id] += 1
        else:
            by_user[e.user_id].append(e.value)
    for uid, r in rows.items():
        obs = by_user[uid]
        assert r.n_obs == len(obs)
        assert r.n_missing == miss[uid]
        mean = sum(obs) / len(obs)
        assert abs(r.impute_mean - mean) < 1e-3
        assert abs(r.sum_zero_filled - sum(obs)) < 1e-2
        assert abs(r.sum_mean_filled - (sum(obs) + miss[uid] * mean)) < 1e-2
        # median imputation total uses the exact median
        assert abs(r.sum_median_filled - (sum(obs) + miss[uid] * r.impute_median)) < 1e-2
        assert min(obs) <= r.impute_median <= max(obs)


def test_rolling_corr_bounded_and_matches_python(spark):
    import statistics

    rows = _rows(spark, "window_rolling_corr")
    assert rows
    assert all(r.n == 7 for r in rows)
    assert all(-1.0 - 1e-9 <= r.rolling_corr <= 1.0 + 1e-9 for r in rows)
    # rebuild the daily grid and check a sample of frames end-to-end
    daily = defaultdict(dict)
    for o in load_table(spark, SF_DIR, "orders").select(
        "o_orderpriority", "o_orderdate", "o_totalprice"
    ).collect():
        day = o.o_orderdate.strftime("%Y-%m-%d")
        x, y = daily[o.o_orderpriority].get(day, (0, 0))
        daily[o.o_orderpriority][day] = (x + 1, y + int(math.floor(o.o_totalprice + 0.5)))
    checked = 0
    for r in rows[:20]:
        days = sorted(daily[r.o_orderpriority])
        i = days.index(r.day)
        frame = [daily[r.o_orderpriority][d] for d in days[i - 6 : i + 1]]
        xs = [f[0] for f in frame]
        ys = [f[1] for f in frame]
        if statistics.pstdev(xs) > 0 and statistics.pstdev(ys) > 0:
            expected = statistics.correlation(xs, ys)
            assert abs(r.rolling_corr - expected) < 1e-4
            checked += 1
    assert checked > 0


def test_interpolate_agrees_with_locf_on_observed_buckets(spark):
    """The two gapfill semantics must agree wherever there IS an
    observation — they only differ inside gaps."""
    interp = {
        (r.event_type, r.bucket): r
        for r in _rows(spark, "events_gapfill_interpolate")
    }
    locf = {
        (r.event_type, r.bucket): r for r in _rows(spark, "events_gapfill_locf")
    }
    assert set(interp) == set(locf)
    agree = 0
    for k, r in interp.items():
        if not r.was_gap and locf[k].avg_value_locf is not None:
            assert abs(r.value_interp - locf[k].avg_value_locf) < 1e-6
            agree += 1
    assert agree > 0


def test_cusum_reflection_identity_matches_recursion(spark):
    """The windowed reflection form S = R − min(0, min R) must replay
    exactly as the textbook recursion S_t = max(0, S_{t−1} + d_t)."""
    rows = _rows(spark, "events_cusum_drift")
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r)
    for rs in by_type.values():
        rs.sort(key=lambda r: r.day)
        n_days = len(rs)
        tot = sum(r.c for r in rs)
        mean = tot / n_days
        var = sum(r.c * r.c for r in rs) / n_days - mean * mean
        slack = math.ceil(n_days * math.sqrt(var) / 2.0)
        s = 0
        for r in rs:
            d = n_days * r.c - tot - slack
            s = max(0, s + d)
            assert r.s_cusum_scaled == s
            assert r.alarm == (1 if s > 2.0 * math.sqrt(var) * n_days else 0)


def test_theil_decomposition_adds_up(spark):
    """Σ within + Σ between must equal the brute-force pooled Theil-T,
    every within term is ≥ 0, and revenue shares sum to 1."""
    rows = _rows(spark, "agg_theil_decomposition")
    assert abs(sum(r.revenue_share for r in rows) - 1.0) < 1e-4
    xs = [
        o.o_totalprice
        for o in load_table(spark, SF_DIR, "orders").select("o_totalprice").collect()
    ]
    n = len(xs)
    mu = sum(xs) / n
    pooled = sum((x / mu) * math.log(x / mu) for x in xs) / n
    recon = sum(r.theil_within_term for r in rows) + sum(
        r.theil_between_term for r in rows
    )
    assert abs(recon - pooled) < 1e-3
    for r in rows:
        assert r.theil_within_term >= -1e-9  # each group Theil is non-negative


def test_quantile_normalize_ranges_and_global_rank(spark):
    rows = _rows(spark, "llmops_quantile_normalize")
    lens = sorted(
        d.n_chars
        for d in load_table(spark, SF_DIR, "documents").select("n_chars").collect()
    )
    n = len(lens)
    assert len(rows) == n
    import bisect

    for r in rows[:100]:
        assert 0.0 <= r.pr_source <= 1.0
        assert 0.0 <= r.pr_global <= 1.0
        expected = bisect.bisect_left(lens, r.n_chars) / (n - 1)
        assert abs(r.pr_global - expected) < 1e-6
        assert abs(r.pr_shift - (r.pr_source - r.pr_global)) < 2e-6
    # each source's smallest doc has pr_source == 0
    by_src_min = {}
    for r in rows:
        if r.pr_source == 0.0:
            by_src_min[r.source] = True
    assert len(by_src_min) == len({r.source for r in rows})


def test_ngram_novelty_bounded_and_partition(spark):
    rows = _rows(spark, "llmops_ngram_novelty")
    assert rows
    for r in rows:
        assert 0 <= r.n_novel <= r.n_test_trigrams
        assert 0.0 <= r.novelty_rate <= 1.0
        assert abs(r.novelty_rate - r.n_novel / r.n_test_trigrams) < 1e-6


def test_percentile_disc_are_data_values_and_monotone(spark):
    """Each discrete percentile must be an ACTUAL value from its group
    (the defining property vs interpolation), monotone across q, and
    equal to the ceil(q·n) nearest-rank element."""
    rows = _rows(spark, "agg_percentile_disc_battery")
    by_prio = defaultdict(list)
    for o in load_table(spark, SF_DIR, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect():
        by_prio[o.o_orderpriority].append(o.o_totalprice)
    for r in rows:
        xs = sorted(by_prio[r.o_orderpriority])
        assert r.n == len(xs)
        for q, v in ((0.25, r.p25_disc), (0.5, r.p50_disc), (0.75, r.p75_disc), (0.9, r.p90_disc)):
            assert v in by_prio[r.o_orderpriority]
            assert v == xs[math.ceil(q * len(xs)) - 1]
        assert r.p25_disc <= r.p50_disc <= r.p75_disc <= r.p90_disc


def test_column_profile_entropy_bounds(spark):
    rows = _rows(spark, "dq_column_profile")
    assert {r.col for r in rows} == {"o_orderpriority", "o_orderstatus", "o_custkey"}
    total = load_table(spark, SF_DIR, "orders").count()
    for r in rows:
        assert r.n == total
        assert r.n_null == 0
        assert 0.0 < r.distinct_ratio <= 1.0
        # Shannon entropy is bounded by ln(k) and non-negative
        assert -1e-9 <= r.shannon_entropy <= math.log(r.n_distinct) + 1e-9
    # brute-force entropy for one column
    vals = defaultdict(int)
    for o in load_table(spark, SF_DIR, "orders").select("o_orderpriority").collect():
        vals[o.o_orderpriority] += 1
    n = sum(vals.values())
    expected = -sum((c / n) * math.log(c / n) for c in vals.values())
    got = next(r for r in rows if r.col == "o_orderpriority").shannon_entropy
    assert abs(got - expected) < 1e-5


def test_survivorship_rules_match_bruteforce(spark):
    rows = _rows(spark, "llmops_dedup_survivorship")
    assert rows
    import hashlib as _h

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    ).collect()
    clusters = defaultdict(list)
    for d in docs:
        k = _h.md5(d.text.strip().lower()[:40].encode()).hexdigest()
        clusters[k].append(d)
    expected = {k: v for k, v in clusters.items() if len(v) >= 2}
    assert {r.cluster_key for r in rows} == set(expected)
    for r in rows:
        mem = expected[r.cluster_key]
        assert r.n_members == len(mem)
        assert r.survivor_doc_id == min(d.doc_id for d in mem)
        best = min(mem, key=lambda d: (-d.n_chars, d.doc_id))
        assert r.longest_doc_id == best.doc_id
        assert r.max_chars == max(d.n_chars for d in mem)
        assert r.lang_conflict == (1 if len({d.lang for d in mem}) > 1 else 0)


def test_sample_size_planner_matches_formula(spark):
    rows = _rows(spark, "llmops_sample_size_planner")
    assert len(rows) == 9
    z = 1.959964 + 0.841621
    for r in rows:
        p2 = r.p1 * (1 + r.mde_rel)
        n = math.ceil(z * z * (r.p1 * (1 - r.p1) + p2 * (1 - p2)) / (p2 - r.p1) ** 2)
        assert r.n_per_arm == n
        assert r.n_total == 2 * n
        # sanity: smaller effects need more samples
    by_p1 = defaultdict(list)
    for r in rows:
        by_p1[r.p1].append((r.mde_rel, r.n_per_arm))
    for arms in by_p1.values():
        arms.sort()
        ns = [n for _, n in arms]
        assert ns == sorted(ns, reverse=True)


def test_markov_stationary_is_probability_vector(spark):
    """π after 3 iterations is a probability vector over the observed
    states, and matches a pure-Python replay of the rounded iteration."""
    rows = _rows(spark, "events_markov_stationary")
    assert abs(sum(r.pi for r in rows) - 1.0) < 1e-4
    assert all(r.pi > 0 for r in rows)
    # replay: build transition matrix and iterate with the same rounding
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e.user_id].append((e.ts, e.event_id, e.event_type))
    trans = defaultdict(int)
    row_tot = defaultdict(int)
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            trans[(a, b)] += 1
            row_tot[a] += 1
    p = {k: round(c / row_tot[k[0]], 10) for k, c in trans.items()}
    states = sorted(row_tot)
    pi = {s: round(1.0 / len(states), 10) for s in states}
    for _ in range(3):
        nxt = defaultdict(float)
        for (a, b), pr in p.items():
            nxt[b] += round(pi[a] * pr, 10)
        pi = {s: round(v, 10) for s, v in nxt.items()}
    for r in rows:
        assert abs(r.pi - round(pi[r.event_type], 6)) < 2e-6


def test_shard_planner_ceil_division_consistent(spark):
    rows = _rows(spark, "llmops_shard_file_planner")
    for r in rows:
        assert r.n_shards == math.ceil(r.total_bytes / 4096)
        assert r.max_rows_per_shard == math.ceil(r.n_docs / r.n_shards)
        assert 0 <= r.padding_bytes < 4096 * r.n_shards
        assert r.n_shards * r.max_rows_per_shard >= r.n_docs


def test_freshness_sla_lag_consistent(spark):
    rows = _rows(spark, "dq_freshness_sla")
    ev = load_table(spark, SF_DIR, "events").select("event_type", "ts").collect()
    max_by_type = {}
    for e in ev:
        if e.event_type not in max_by_type or e.ts > max_by_type[e.event_type]:
            max_by_type[e.event_type] = e.ts
    global_max = max(max_by_type.values())
    assert {r.event_type for r in rows} == set(max_by_type)
    freshest = [r for r in rows if r.lag_minutes == 0]
    assert freshest  # at least one stream defines the frontier
    def _us(dt):
        # integer epoch-microseconds — the exact arithmetic the query does
        # (unix_micros div), no float total_seconds() floor ambiguity
        from datetime import timezone

        return int(dt.replace(tzinfo=timezone.utc).timestamp()) * 1_000_000 + dt.microsecond

    for r in rows:
        lag_us = _us(global_max) - _us(max_by_type[r.event_type])
        assert r.lag_minutes == lag_us // 60_000_000
        # breach is defined on MICROSECONDS (lag_us > 2h), not on the
        # floored minute value — a lag strictly between 120 and 121
        # minutes breaches while still printing lag_minutes=120 (r4
        # advice: recompute the expectation from µs, no latent flake)
        assert r.sla_breach == (1 if lag_us > 2 * 3600 * 1_000_000 else 0)


def test_bootstrap_ci_brackets_true_mean(spark):
    """The 2nd/31st order-statistic CI should bracket the true mean for
    a well-behaved statistic, and ci_lo <= boot_mean <= ci_hi."""
    [row] = _rows(spark, "agg_bootstrap_hash_ci")
    assert row.n_replicates == 32
    assert row.ci_lo <= row.boot_mean <= row.ci_hi
    xs = [
        o.o_totalprice
        for o in load_table(spark, SF_DIR, "orders").select("o_totalprice").collect()
    ]
    true_mean = sum(xs) / len(xs)
    assert row.ci_lo <= true_mean <= row.ci_hi
    # CI width shrinks like 1/sqrt(n): sanity bound, not a tight check
    import statistics

    se = statistics.pstdev(xs) / math.sqrt(len(xs))
    assert row.ci_hi - row.ci_lo < 10 * se


def test_survivorship_packing_domain_holds_on_fixture(spark):
    """llmops_dedup_survivorship packs (100000 - n_chars)·2⁴⁰ + doc_id
    into one BIGINT; the encoding is only order-correct for
    0 <= doc_id < 2**40 and 0 <= n_chars <= 100000 (see the query
    docstring). Pin the fixture inside that domain so silent id/length
    growth can never turn the packed argmax into a wrong answer."""
    from pyspark.sql import functions as F

    d = load_table(spark, SF_DIR, "documents")
    row = d.agg(
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.min("n_chars").alias("min_ch"),
        F.max("n_chars").alias("max_ch"),
    ).first()
    assert 0 <= row.min_id and row.max_id < (1 << 40)
    assert 0 <= row.min_ch and row.max_ch <= 100000


def test_conformal_approx_exact_leg_matches_coverage(spark):
    """The approx builder's exact anchor is the exact builder: per
    segment, qhat_exact, n_calib and n_test equal
    eval_conformal_coverage's qhat, n_calib and n_test."""
    exact = {r.g: r for r in _rows(spark, "eval_conformal_coverage")}
    approx = {r.g: r for r in _rows(spark, "eval_conformal_approx")}
    assert exact and set(approx) == set(exact)
    for g, r in approx.items():
        e = exact[g]
        assert (r.qhat_exact, r.n_calib, r.n_test) == (e.qhat, e.n_calib, e.n_test), (r, e)
