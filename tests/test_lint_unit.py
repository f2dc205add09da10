"""Unit tests for the plan-lint parser itself (plans.lint): the
registry-wide gate is only as trustworthy as the windowspecdefinition
parsing underneath it, so the string mechanics are pinned on synthetic
plan fragments — no Spark session needed."""

from __future__ import annotations

from batch_public_spark.plans.lint import (
    _balanced_args,
    _duplicate_percentile_findings,
    _split_top_level,
    _window_partition_keys,
)


def test_balanced_args_honors_nesting():
    s = "windowspecdefinition(f(a, b), c ASC NULLS FIRST, frame(x, y))"
    args = _balanced_args(s, s.index("("))
    assert args == "f(a, b), c ASC NULLS FIRST, frame(x, y)"


def test_split_top_level_ignores_nested_commas():
    assert _split_top_level("f(a, b), c, g(h(i, j), k)") == [
        "f(a, b)",
        "c",
        "g(h(i, j), k)",
    ]


def test_partition_keys_detected_before_order_items():
    args = (
        "d#8, ts#19 ASC NULLS FIRST, delta#20 DESC NULLS LAST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"
    )
    assert _window_partition_keys(args) == ["d#8"]


def test_unpartitioned_spec_has_no_keys():
    args = (
        "n#1L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"
    )
    assert _window_partition_keys(args) == []


def test_expression_partition_key_counts():
    # pmod(n#1L, 1) — the bounded_window_key idiom — must read as a key.
    args = (
        "pmod(n#1L, 1)#7L, n#1L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"
    )
    assert _window_partition_keys(args) == ["pmod(n#1L, 1)#7L"]


def test_frame_only_spec_has_no_keys():
    args = "specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())"
    assert _window_partition_keys(args) == []


# --- uncapped-bucket-self-join (r9) -----------------------------------

_BUCKET_PROJECT = (
    "Project [user_id#5L AS u#50L, FLOOR((cast(unix_timestamp(ts#3) as double)"
    " / 60.0)) AS b#51L]"
)
_CAP_WINDOW = (
    "Window [row_number() windowspecdefinition(b#51L, u#50L ASC NULLS FIRST, "
    "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
    "AS rn#60]"
)
_SELF_JOIN = "SortMergeJoin [b#51L], [b#151L], Inner"


def test_uncapped_bucket_self_join_flagged():
    from batch_public_spark.plans.lint import _self_join_bucket_findings

    plan = "\n".join([_BUCKET_PROJECT, _SELF_JOIN])
    kinds = [f.kind for f in _self_join_bucket_findings(plan)]
    assert kinds == ["uncapped-bucket-self-join"]


def test_row_number_cap_suppresses_finding():
    from batch_public_spark.plans.lint import _self_join_bucket_findings

    plan = "\n".join([_BUCKET_PROJECT, _CAP_WINDOW, _SELF_JOIN])
    assert _self_join_bucket_findings(plan) == []


def test_non_self_join_on_bucket_not_flagged():
    # Different key names on the two sides (a bucket joined against a
    # pre-aggregated dimension) is not the self-join shape.
    from batch_public_spark.plans.lint import _self_join_bucket_findings

    plan = "\n".join(
        [_BUCKET_PROJECT, "SortMergeJoin [b#51L], [bucket_id#9L], Inner"]
    )
    assert _self_join_bucket_findings(plan) == []


def test_self_join_on_natural_key_not_flagged():
    # Same-named keys but NOT bucket-derived (plain column) — out of scope.
    from batch_public_spark.plans.lint import _self_join_bucket_findings

    plan = "SortMergeJoin [user_id#5L], [user_id#105L], Inner"
    assert _self_join_bucket_findings(plan) == []


# --- unbounded-broadcast (r10): explicit hints in the LOGICAL plan -----

_REL_EVENTS = (
    "Relation [event_id#1L,user_id#5L,ts#3,event_type#4,value#6] parquet"
)
_REL_NATION = "Relation [n_nationkey#2L,n_name#7,n_regionkey#8L] parquet"


def _join_plan(hint: str, right_sub: list[str]) -> str:
    lines = [
        f"Join Inner, (x#9L = u#50L){hint}",
        ":- Filter isnotnull(x#9L)",
        ":  +- " + _REL_EVENTS,
    ]
    lines += right_sub
    return "\n".join(lines)


def test_hinted_id_keyed_distinct_flagged():
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan(
        ", rightHint=(strategy=broadcast)",
        [
            "+- Aggregate [u#50L], [u#50L]",
            "   +- Project [user_id#5L AS u#50L]",  # alias chain to an id
            "      +- " + _REL_EVENTS,
        ],
    )
    kinds = [f.kind for f in _unbounded_broadcast_findings(plan)]
    assert kinds == ["unbounded-broadcast"]


def test_hinted_raw_fact_relation_flagged():
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan(
        ", rightHint=(strategy=broadcast)",
        ["+- Project [user_id#105L]", "   +- " + _REL_EVENTS],
    )
    kinds = [f.kind for f in _unbounded_broadcast_findings(plan)]
    assert kinds == ["unbounded-broadcast"]


def test_enum_keyed_aggregate_not_flagged():
    # Keys on a domain-bounded column (event_type) — frame is bounded by
    # the key domain no matter the corpus size.
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan(
        ", rightHint=(strategy=broadcast)",
        [
            "+- Aggregate [t#60], [t#60]",
            "   +- Project [event_type#4 AS t#60]",
            "      +- " + _REL_EVENTS,
        ],
    )
    assert _unbounded_broadcast_findings(plan) == []


def test_unhinted_join_not_flagged():
    # Planner/AQE-chosen broadcasts carry no hint annotation — scale-safe.
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan(
        "", ["+- Project [user_id#105L]", "   +- " + _REL_EVENTS]
    )
    assert _unbounded_broadcast_findings(plan) == []


def test_scalar_aggregate_hint_not_flagged():
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan(
        ", rightHint=(strategy=broadcast)",
        ["+- Aggregate [count(1) AS n#12L]", "   +- " + _REL_EVENTS],
    )
    assert _unbounded_broadcast_findings(plan) == []


def test_dim_table_hint_not_flagged():
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan(
        ", rightHint=(strategy=broadcast)",
        ["+- Aggregate [n_name#7], [n_name#7]", "   +- " + _REL_NATION],
    )
    assert _unbounded_broadcast_findings(plan) == []


def test_capped_hint_not_flagged():
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    for bound in ("GlobalLimit 100", "LocalLimit 100"):
        plan = _join_plan(
            ", rightHint=(strategy=broadcast)",
            [
                f"+- {bound}",
                "   +- Project [user_id#105L]",
                "      +- " + _REL_EVENTS,
            ],
        )
        assert _unbounded_broadcast_findings(plan) == [], bound


def test_semi_join_against_capped_set_not_flagged():
    # embeddings ⋉ (hash-rank LIMIT 100) — the fixed-count sample idiom:
    # the semi join is an equality probe against a capped set → bounded.
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan(
        ", rightHint=(strategy=broadcast)",
        [
            "+- Join LeftSemi, (user_id#105L = s#9L)",
            "   :- " + _REL_EVENTS,
            "   +- GlobalLimit 100",
            "      +- Project [user_id#205L AS s#9L]",
            "         +- " + _REL_EVENTS,
        ],
    )
    assert _unbounded_broadcast_findings(plan) == []


def test_anti_join_follows_left_input():
    # population-left ANTI bounded-right is still population-scale.
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan(
        ", rightHint=(strategy=broadcast)",
        [
            "+- Join LeftAnti, (user_id#105L = s#9L)",
            "   :- " + _REL_EVENTS,
            "   +- GlobalLimit 100",
            "      +- Project [user_id#205L AS s#9L]",
            "         +- " + _REL_EVENTS,
        ],
    )
    kinds = [f.kind for f in _unbounded_broadcast_findings(plan)]
    assert kinds == ["unbounded-broadcast"]


def test_left_hint_inspects_left_child():
    # The hint names the LEFT side; the population frame on the RIGHT
    # must not be attributed to it.
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = "\n".join(
        [
            "Join Inner, (x#9L = u#50L), leftHint=(strategy=broadcast)",
            ":- Aggregate [count(1) AS n#12L]",
            ":  +- " + _REL_EVENTS,
            "+- Project [user_id#105L]",
            "   +- " + _REL_EVENTS,
        ]
    )
    assert _unbounded_broadcast_findings(plan) == []


# --- r11: localCheckpoint blind spot + conjunct-aware Filter bounds ----


def test_checkpointed_hinted_frame_flagged():
    # localCheckpoint() truncates lineage: the frame renders as a bare
    # LogicalRDD leaf. Under an explicit broadcast hint that is
    # population-scale-unless-allowlisted (the r10 graph_link_prediction
    # escape: its O(|V|) degree table hid behind the checkpoint cut).
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan(
        ", rightHint=(strategy=broadcast)",
        ["+- LogicalRDD [u#50L, d#51L], false"],
    )
    kinds = [f.kind for f in _unbounded_broadcast_findings(plan)]
    assert kinds == ["unbounded-broadcast"]


def test_checkpointed_unhinted_frame_not_flagged():
    # No hint → AQE/statistics decide; a checkpoint cut alone is fine.
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan("", ["+- LogicalRDD [u#50L, d#51L], false"])
    assert _unbounded_broadcast_findings(plan) == []


def test_cached_fact_table_hint_flagged():
    # A cached table frame renders as an InMemoryRelation leaf whose
    # children are the cached PHYSICAL plan (FileScan, no `Relation`
    # line); the fact scan must still be seen through its output list.
    # Rendered from a live `.cache()` of load_table(..., "embeddings").
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan(
        ", rightHint=(strategy=broadcast)",
        [
            "+- Filter isnotnull(vec_id#0L)",
            "   +- InMemoryRelation [vec_id#0L, embedding#1, label#2], "
            "StorageLevel(disk, memory, deserialized, 1 replicas)",
            "         +- *(1) ColumnarToRow",
            "            +- FileScan parquet [vec_id#0L,embedding#1,label#2] "
            "Batched: true, DataFilters: [], Format: Parquet, Location: "
            "InMemoryFileIndex(1 paths)[file:/data/embeddings.parquet], "
            "PartitionFilters: [], PushedFilters: [], "
            "ReadSchema: struct<vec_id:bigint,embedding:array<float>,label:int>",
        ],
    )
    kinds = [f.kind for f in _unbounded_broadcast_findings(plan)]
    assert kinds == ["unbounded-broadcast"]


def test_filter_bound_inside_or_branch_does_not_bound():
    # `vec_id = 5 OR isnotnull(x)` selects nothing on its own — the
    # literal comparison must be a top-level conjunct (r10 ADVICE).
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan(
        ", rightHint=(strategy=broadcast)",
        [
            "+- Filter ((user_id#105L = 5) OR isnotnull(value#6))",
            "   +- " + _REL_EVENTS,
        ],
    )
    kinds = [f.kind for f in _unbounded_broadcast_findings(plan)]
    assert kinds == ["unbounded-broadcast"]


def test_filter_bound_as_top_level_conjunct_still_bounds():
    # The fixed-count selection idiom keeps working when AND-ed with
    # other predicates.
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    plan = _join_plan(
        ", rightHint=(strategy=broadcast)",
        [
            "+- Filter ((user_id#105L < 5) AND isnotnull(value#6))",
            "   +- " + _REL_EVENTS,
        ],
    )
    assert _unbounded_broadcast_findings(plan) == []


def test_sf_scaled_tpch_dims_are_population_scale():
    # customer/supplier/part grow with SF — a hinted broadcast of the raw
    # table is flagged; nation/region stay bounded (covered above).
    from batch_public_spark.plans.lint import _unbounded_broadcast_findings

    rel_customer = (
        "Relation [c_custkey#1L,c_name#2,c_nationkey#3L,c_mktsegment#4,"
        "c_acctbal#5] parquet"
    )
    plan = _join_plan(
        ", rightHint=(strategy=broadcast)",
        ["+- Project [c_custkey#1L]", "   +- " + rel_customer],
    )
    kinds = [f.kind for f in _unbounded_broadcast_findings(plan)]
    assert kinds == ["unbounded-broadcast"]


_PCT_AGG = (
    "+- ObjectHashAggregate(keys=[], functions=[percentile(x#1, 0.5, 1, 0, 0, false), "
    "approx_percentile(x#1, 0.9, 10000, 0, 0)], output=[p#2, q#3])"
)


def test_percentile_and_approx_percentile_buffers_do_not_pair():
    """Exact and approximate percentile buffers over one column cannot
    share a buffer, so the pair is not a duplicate; two exact ones are."""
    assert _duplicate_percentile_findings(_PCT_AGG) == []
    two_exact = _PCT_AGG.replace(
        "approx_percentile(x#1, 0.9, 10000, 0, 0)", "percentile(x#1, 0.9, 1, 0, 0, false)"
    )
    [f] = _duplicate_percentile_findings(two_exact)
    assert f.kind == "duplicate-percentile-buffers"
    assert f.detail == "percentile×2 over x#1"
