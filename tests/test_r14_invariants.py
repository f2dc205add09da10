"""Round-14 invariants: properties the r14 additions must keep.

Each test pins the semantic claim a new query's docstring makes, beyond
the oracle hash (which only certifies engine parity on one fixture).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from batch_public_spark.plans import QUERIES
from tests.conftest import SF_DIR


def test_cox_score_is_negated_logrank_numerator(spark):
    """Textbook identity (r13 verdict item #7): with an indicator
    covariate, the Cox partial-likelihood score at beta=0 equals the
    log-rank numerator — here negated, because the log-rank accumulates
    cohort-0's observed-minus-expected while the Cox covariate marks
    cohort 1. Both queries quantize per-day terms round-10 before
    summing, so the sums agree to the term-wise float tolerance; the
    Breslow information exceeds the hypergeometric variance term-wise
    (i_j = v_j * (n_j-1)/(n_j-dt_j), dt_j >= 1), and the score-test
    direction must mirror the log-rank's.
    """
    cox = QUERIES["events_cox_hazard"].fn(spark, SF_DIR).first()
    lr = QUERIES["events_logrank_test"].fn(spark, SF_DIR).first()
    assert cox["n_event_days"] == lr["n_event_days"]
    assert cox["events_control"] == lr["o1"]
    assert cox["events_treat"] == lr["o2"]
    assert abs(cox["score_u"] + lr["oe_sum"]) < 1e-4, (cox, lr)
    assert cox["info_i"] >= lr["var_sum"]
    if lr["z_stat"] != 0:
        assert (cox["z_score"] < 0) == (lr["z_stat"] > 0)
    # One Newton step is internally consistent: beta1 = U/I.
    assert abs(cox["beta1"] - cox["score_u"] / cox["info_i"]) < 1e-5


def test_unigram_lm_train_matches_pure_python(spark):
    """Third-implementation oracle for llmops_unigram_lm_train: re-run
    the ENTIRE trainer (seed -> 2 hard-EM rounds of Viterbi segment /
    count / prune / renormalize) in pure Python over the same token-type
    sample and require exact count agreement per retained piece (NLLs to
    1e-6 — one libm-vs-JVM ln ulp may straddle the round-6 boundary).
    The DuckDB oracle already certifies engine parity; this pins the
    ALGORITHM (DP recurrence, tie-break, prune ordering, char floor)
    against an implementation that shares no query machinery.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from batch_public_spark.plans.analytics_queries import (
        _ULM_KEEP,
        _ULM_LMAX,
        _ULM_PLEN,
        _ULM_ROUNDS,
        _ULM_SEED,
    )
    from batch_public_spark.operators.textops import tokens as _tokens
    from batch_public_spark.sources.tables import load_table

    d = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 400)
    rows = (
        d.select(F.explode(F.transform(_tokens(F.col("text")), F.lower)).alias("tok"))
        .filter(F.length("tok") <= _ULM_LMAX)
        .groupBy("tok")
        .count()
        .collect()
    )
    types = {r["tok"]: r["count"] for r in rows}

    subs: dict = {}
    for tok, f in types.items():
        for j in range(1, len(tok) + 1):
            for ln in range(1, min(_ULM_PLEN, j) + 1):
                p = tok[j - ln : j]
                subs[p] = subs.get(p, 0) + f
    chars = sorted(p for p in subs if len(p) == 1)
    multi = sorted(
        ((p, c) for p, c in subs.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:_ULM_SEED]
    v = {p: subs[p] for p in chars}
    v.update(dict(multi))

    q6 = Decimal("0.000001")

    def norm(vv):
        tot = sum(vv.values())
        return {
            p: Decimal(repr(-math.log(c * 1.0 / tot))).quantize(
                q6, rounding=ROUND_HALF_UP
            )
            for p, c in vv.items()
        }

    vn = norm(v)
    for _ in range(_ULM_ROUNDS):
        cnt: dict = {}
        for tok, f in types.items():
            n = len(tok)
            dp = [(Decimal(0), 0)] + [None] * n
            for j in range(1, n + 1):
                cands = [
                    (dp[j - ln][0] + vn[tok[j - ln : j]], ln)
                    for ln in range(1, min(_ULM_PLEN, j) + 1)
                    if tok[j - ln : j] in vn
                ]
                dp[j] = min(cands)  # min score, ties -> shortest piece
            pos = n
            while pos > 0:
                bl = dp[pos][1]
                p = tok[pos - bl : pos]
                cnt[p] = cnt.get(p, 0) + f
                pos -= bl
        kept = sorted(
            ((p, c) for p, c in cnt.items() if len(p) >= 2),
            key=lambda x: (-x[1], x[0]),
        )[:_ULM_KEEP]
        v = {p: max(cnt.get(p, 0), 1) for p in chars}
        v.update(dict(kept))
        vn = norm(v)

    got = {
        r["piece"]: r
        for r in QUERIES["llmops_unigram_lm_train"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(v), (sorted(got), sorted(v))
    for p, c in v.items():
        assert got[p]["n"] == c, (p, got[p]["n"], c)
        assert got[p]["is_char"] == (len(p) == 1)
        assert abs(Decimal(got[p]["nll"]) - vn[p]) <= Decimal("0.000001"), p
    # Coverage held (every char retained) and pruning was non-vacuous:
    # the seed stage saw more candidates than it kept, and the EM rounds
    # never exceed the retention cap (round 2 may fall BELOW it — the
    # model concentrating on fewer pieces is the algorithm working).
    assert sum(1 for p in v if len(p) == 1) == len(chars)
    assert len(subs) - len(chars) > _ULM_SEED > _ULM_KEEP
    assert 1 <= sum(1 for p in v if len(p) >= 2) <= _ULM_KEEP


def test_bh_fdr_discovers_injected_effect_and_is_step_up(spark, tmp_path):
    """Rejection path + step-up shape for dq_bh_fdr: on a corpus where
    ONE source's metric is shifted by the (hash-derived) treatment coin
    and the others are null, BH must discover exactly the biased source;
    and on any output, the discovery set must be a PREFIX of the p-value
    order with every discovered p under its rank threshold (the BH
    step-up definition). Three sources keep m small enough that the
    1/33 p-value floor clears rank-1's alpha*k/m threshold.
    """
    import hashlib

    def coin(doc_id: int) -> bool:  # digit 1 of md5("{id}:assign") <= 7
        return int(hashlib.md5(f"{doc_id}:assign".encode()).hexdigest()[0], 16) <= 7

    rows = []
    for i in range(600):
        src = ["biased", "null_a", "null_b"][i % 3]
        shift = 500 if (src == "biased" and coin(i)) else 0
        rows.append((i, src, 1000 + (i % 7) + shift))
    sf = tmp_path / "sf_bh"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))
    out = QUERIES["dq_bh_fdr"].fn(spark, str(sf)).collect()
    by_src = {r["source"]: r for r in out}
    assert by_src["biased"]["rejected"], by_src
    assert not by_src["null_a"]["rejected"] and not by_src["null_b"]["rejected"]
    assert by_src["biased"]["p_rank"] == 1

    # Step-up shape on the real fixture: discoveries are exactly ranks
    # 1..k*, and each discovered p sits under its own threshold.
    real = QUERIES["dq_bh_fdr"].fn(spark, SF_DIR).collect()
    rejected_ranks = sorted(r["p_rank"] for r in real if r["rejected"])
    assert rejected_ranks == list(range(1, len(rejected_ranks) + 1))
    for r in real:
        if r["rejected"]:
            assert float(r["p_value"]) <= r["bh_threshold"] + 1e-12 or any(
                float(q["p_value"]) <= q["bh_threshold"] + 1e-12
                and q["p_rank"] >= r["p_rank"]
                for q in real
            )


def test_nelson_aalen_dominated_by_km_log_survival(spark):
    """Textbook ordering: -ln(S_KM(t)) >= H_NA(t) at every day, because
    per churn day -ln(1 - d/n) >= d/n (strict when d > 0) and both
    estimators accumulate over the same grid. Also the NA curve must be
    non-decreasing with non-decreasing se, and jump exactly on churn
    days.
    """
    na = {
        r["day"]: r for r in QUERIES["events_nelson_aalen"].fn(spark, SF_DIR).collect()
    }
    km = {
        r["day"]: r for r in QUERIES["events_survival_curve"].fn(spark, SF_DIR).collect()
    }
    assert set(na) == set(km) and len(na) > 5
    prev_h, prev_se = 0.0, 0.0  # H(0) = 0: day one only "jumps" with churn
    for day in sorted(na):
        r = na[day]
        assert r["at_risk"] == km[day]["at_risk"]
        assert r["churned"] == km[day]["churned"]
        assert r["cum_hazard"] >= prev_h - 1e-12
        assert r["se"] >= prev_se - 1e-12
        if r["cum_hazard"] > prev_h + 1e-9:
            assert r["churned"] > 0  # jumps only on churn days
        prev_h, prev_se = r["cum_hazard"], r["se"]
        if km[day]["log_survival"] != -999999.0:
            assert -km[day]["log_survival"] >= r["cum_hazard"] - 1e-6, (day, r)


def test_sprt_monitor_crosses_and_is_consistent(spark):
    """The fixture's purchase share (~0.202) sits above H1's p = 0.20,
    so the SPRT replay must reach accept_h1 within the 30-day window;
    first_decision_day must equal the first non-continue day; and every
    row's LLR must equal the closed form from its own cumulative counts
    (the decision column is pure arithmetic, no hidden state).
    """
    rows = sorted(
        QUERIES["events_sprt_monitor"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["day"],
    )
    assert rows
    l1, l0, a = 0.287682072451781, -0.060624621816434736, 2.9444389791664403
    first = None
    for r in rows:
        expect = r["succ_cum"] * l1 + (r["trials_cum"] - r["succ_cum"]) * l0
        assert abs(r["llr"] - round(expect, 6)) <= 1e-6
        want = (
            "accept_h1" if expect >= a else "accept_h0" if expect <= -a else "continue"
        )
        assert r["decision"] == want
        if want != "continue" and first is None:
            first = r["day"]
    assert first is not None, "SPRT never crossed — vacuous fixture"
    assert all(r["first_decision_day"] == first for r in rows)
    assert rows[-1]["decision"] == "accept_h1"


def test_jackknife_ratio_matches_python_recompute(spark):
    """Recompute the delete-one-bucket jackknife in plain Python from
    the same per-bucket aggregates and match every emitted statistic;
    the CI must bracket theta and the bias estimate must be small
    relative to theta (events-per-user is a smooth ratio).
    """
    import math

    from batch_public_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    b = (
        ev.groupBy((F.col("user_id") % 10).alias("bucket"))
        .agg(
            F.count("*").alias("s"),
            F.countDistinct("user_id").alias("n"),
        )
        .collect()
    )
    st, nt = sum(r["s"] for r in b), sum(r["n"] for r in b)
    loo = [
        round((st - r["s"]) / (nt - r["n"]), 10) for r in b
    ]
    nb = len(loo)
    thbar = sum(loo) / nb
    se = math.sqrt((nb - 1.0) / nb * (sum(x * x for x in loo) - sum(loo) ** 2 / nb))
    out = QUERIES["events_jackknife_ratio"].fn(spark, SF_DIR).first()
    assert out["n_users"] == nt and out["n_events"] == st
    assert out["n_buckets"] == nb
    assert abs(out["theta"] - round(st / nt, 6)) <= 1e-9
    assert abs(out["theta_jack_mean"] - thbar) <= 1e-5
    assert abs(out["se"] - se) <= 1e-5
    assert out["ci_lo"] <= out["theta"] <= out["ci_hi"]
    assert out["se"] > 0
    assert abs(out["bias_est"]) < 0.1 * abs(out["theta"])


def test_substring_dedup_planted_duplicates(spark, tmp_path):
    """Planted-duplicate oracle for llmops_substring_dedup (r13 verdict
    item #6): a corpus with a KNOWN shared-span layout must come back
    with exactly the Lee-et-al answer — a verbatim 20-token span copied
    from doc 1 into docs 2 and 3 is removed from 2 and 3 (owner 1 keeps
    it), two disjoint copied spans coalesce separately, overlapping
    copies merge into one span, a 7-token (k-1) shared run is NOT
    removed, and a unique doc is untouched.
    """
    words = [f"w{i:03d}" for i in range(200)]  # unique filler vocabulary
    span_a = " ".join(words[0:20])       # 20-token shared span (>= k = 8)
    span_b = " ".join(words[50:62])      # 12-token shared span
    short = " ".join(words[100:107])     # 7 tokens: below k, must survive
    docs = [
        # owner: contributes both spans, keeps everything
        (1, f"{span_a} alpha{0} {span_b} beta{0}"),
        # one copy of span_a, one of span_b, separated by unique filler
        # => exactly 2 removed spans, 32 tokens
        (2, f"{span_a} gamma{0} gamma{1} {span_b}"),
        # two copies of span_a back to back => the two marked runs are
        # adjacent (cover 1..20 and 21..40) and coalesce: ONE span of 40
        (3, f"{span_a} {span_a}"),
        # the k-1 run shared with doc 5 plus unique tail: nothing removed
        (4, f"{short} delta{0} delta{1} delta{2}"),
        (5, f"{short} eps{0} eps{1} eps{2}"),
        # fully unique
        (6, " ".join(words[150:180])),
    ]
    sf = tmp_path / "sf_planted"
    sf.mkdir()
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(sf / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in QUERIES["llmops_substring_dedup"].fn(spark, str(sf)).collect()
    }
    assert len(out) == 6
    o1, o2, o3 = out[1], out[2], out[3]
    assert o1["tokens_removed"] == 0 and o1["n_spans"] == 0  # owner keeps
    assert o2["n_spans"] == 2 and o2["tokens_removed"] == 32
    assert o2["tokens_kept"] == o2["n_tokens"] - 32
    # doc 3: tokens 1..40 all covered (the junction windows span both
    # copies), one maximal span
    assert o3["n_spans"] == 1 and o3["tokens_removed"] == 40
    for i in (4, 5, 6):
        assert out[i]["tokens_removed"] == 0 and out[i]["n_spans"] == 0
