"""Registry-wide scale lint: every declared query's executed plan must be
free of single-task windows, cartesian products, and row-at-a-time Python
UDFs (see batch_public_spark.plans.lint for the antipattern definitions).

Round 3's verdict found the unpartitioned-window family by reading bench
logs; this gate makes the hunt structural — a new query that sneaks a
global rank window or a pickled-row UDF into the registry fails CI before
any bench runs. The registry's bounded global-rank cases all use the
non-foldable ``bounded_window_key`` idiom (plans.lint), which documents
the bound in code and keeps the plan partitioned; the allowlist below is
for the cases where the GLOBAL operator itself is the query's subject.
"""

from __future__ import annotations

import ast
import io
import itertools
import tokenize
from collections import defaultdict
from pathlib import Path

from pyspark.sql import functions as F

from batch_public_spark.plans import QUERIES
from batch_public_spark.plans.lint import lint_plan, lint_plan_warnings
from tests.conftest import SF_DIR

# (query name, finding kind) pairs that are acknowledged-and-justified.
ALLOWLIST: set[tuple[str, str]] = {
    # NTILE itself is the operator under test; a full-table global ntile is
    # inherently one sort task. The docstring documents the 100 TB
    # replacement (approx-percentile bucket thresholds, cf. cust_rfm's
    # integer-rank quartiles); marking it "bounded" would be dishonest.
    ("window_ntile_quartiles", "unpartitioned-window"),
    # The digit key IS floor-derived and same-named on both sides, but both
    # join inputs are per-digit AGGREGATES (≤ 9 rows each: observed counts
    # vs the 9-row Benford expectation dim) — keys are unique per side, so
    # the join emits ≤ 9 rows; there is no m²-per-key amplification to cap.
    ("dq_benford_first_digit", "uncapped-bucket-self-join"),
    # r11 banded theta join: two band-keyed joins trip the detector.
    # (a) suppliers ⋈ per-band customer counts — the count side has ONE
    # row per band (keys unique), so there is no m²-per-key blowup;
    # (b) the same-band residual s ⋈ c IS the theta predicate's intrinsic
    # quadratic cost, reduced to 1/B² of the full cross product and tuned
    # by the band width — a row cap would change results. Docstring
    # documents both; the banding is the 100 TB mitigation itself.
    ("join_theta_acctbal", "uncapped-bucket-self-join"),
    # --- unbounded-broadcast (r10): justified-bounded hinted frames the
    # static cardinality walk cannot prove. Each bound is structural and
    # documented in the query's docstring. ---
    # Back-edge frame e2 ≤ K·k² = 2 500 rows: its input is the ≤ K·k = 500
    # distinct first-hop neighbors of the GlobalLimit-100 hash-rank query
    # sample, bounded through a rank-cap window the walk can't credit.
    ("llmops_knn_graph_audit", "unbounded-broadcast"),
    # Lloyd centroid frames are exactly k = 32 rows: cluster_id's domain
    # is the literal-bounded seed set (vec_id < 32) on the OTHER side of
    # the argmin assignment join — alias resolution sees an id-typed key,
    # not the bounded domain it ranges over.
    ("llmops_kmeans_lloyd", "unbounded-broadcast"),
    # The recall join broadcasts the brute-force ground truth: ≤ K·k = 25
    # rows (5 queries × k = 5), bounded through a rank-cap window.
    ("llmops_ann_ivf_lloyd_recall", "unbounded-broadcast"),
    # --- unbounded-broadcast (r11): the LogicalRDD lint rule is
    # deliberately conservative — a cut (sources.tables.cut) or
    # createDataFrame frame is a lineage-less leaf, so a hint over one is
    # flagged unless allowlisted here with its structural bound stated. ---
    # Checkpoint-cut frames with a structural bound upstream of the cut:
    # the near-dup anchor set of `llmops_queries._dedup_waves` is
    # `doc_id < 150`-bounded before its cut (docstring
    # documents the cap; the hint prevents a CartesianProduct on the
    # <-join).
    ("llmops_dedup_cascade_e2e", "unbounded-broadcast"),
    # Same near-dup anchor, same bound, same reason — the corpus build
    # runs the same `_dedup_waves` helper: `doc_id < 150` upstream of the
    # checkpoint cut; the hint prevents a CartesianProduct on the <-join.
    ("llmops_corpus_build_e2e", "unbounded-broadcast"),
    # MMR greedy picks are LIMIT-1 frames checkpointed between rounds
    # (pool itself is a LIMIT-10 checkpoint) — ≤1-row broadcasts.
    ("llmops_mmr_diversified_topk", "unbounded-broadcast"),
    # NOT a bucket self-join: the dense-grid fill joins per_band back to
    # (QI-classes × bands) on the FULL composite key (c_nationkey,
    # c_mktsegment, band) — unique on both sides, ≤1 output row per pair
    # (the heuristic fires on the shared floor-derived `band` name alone;
    # the composite key is what makes the join linear, and both sides are
    # cardinality-bounded grids ≤ |classes|×|bands| at any SF).
    ("dq_t_closeness", "uncapped-bucket-self-join"),
}


# Warn-level findings (r15, lint_plan_warnings): measured performance
# cliffs, not scale-fatal shapes. Every entry is acknowledged with its
# reason; a NEW unallowlisted warn is a gate failure so regressions of the
# r14 levers (inline_rows migration, percentile fusion, Expand rewrites)
# are caught structurally.
WARN_ALLOWLIST: set[tuple[str, str]] = {
    # 2+ count(DISTINCT) groups mixed in one aggregate: Expand duplicates
    # input rows once per distinct group. These five are the COMPLETE set
    # the rule finds across the registry (r15 sweep at sf0.001) — all
    # sub-0.55 s at sf0.1 (BENCH_FULL: 0.17-0.54), all over small or
    # already-reduced inputs where the pre-aggregate rewrite
    # (agg_approx_distinct_accuracy's template) is plan churn without a
    # measurable win. Single-distinct sites never Expand on Spark 4.1,
    # so the r14 map's remaining names no longer appear here.
    ("agg_distinct_parts", "distinct-agg-expand"),
    ("agg_multi_distinct", "distinct-agg-expand"),
    ("events_ab_uplift", "distinct-agg-expand"),
    ("llmops_cdc_chunking", "distinct-agg-expand"),
    ("llmops_dataset_card", "distinct-agg-expand"),
}


# (module, top-level function) sites in the package allowed to write
# session conf, module paths relative to batch_public_spark/.
CONF_WRITE_ALLOWLIST: set[tuple[str, str]] = {
    # The scripting toggle: the battery needs spark.sql.scripting.enabled
    # for its one spark.sql() call and restores the prior value (or unsets
    # it) in a finally, so the caller's session is left as it was.
    ("plans/sql_surface.py", "sql_scripting_battery"),
    # nanosAsLong: events.parquet is TIMESTAMP(NANOS), and a read on the
    # driver's vanilla session needs the flag when the scan executes, after
    # the loader has returned, so it cannot be restored on return.
    ("sources/tables.py", "load_table"),
    ("streaming/ops.py", "read_events_stream"),
    # Python data-source filter pushdown is read when the optimizer plans
    # the scan, after registration returns.
    ("sources/kvscan.py", "register_kv_source"),
    # The RocksDB state-store provider is read when the stateful stream
    # starts, after the builder returns.
    ("streaming/tws.py", "running_user_stats"),
    # Sets the stream's shuffle partitions and restores the prior value
    # once the stream has run.
    ("streaming/ops.py", "_run_to_completion"),
}


def _package_calls(attrs: tuple[str, ...]):
    """Yield (module path relative to the package, top-level owner name,
    line, receiver node ``<x>``) for every ``<x>.<attr>(...)`` call in
    batch_public_spark/ whose attribute is in ``attrs``."""
    root = Path(__file__).resolve().parent.parent / "batch_public_spark"
    modules = sorted(root.rglob("*.py"))
    assert len(modules) > 20, root
    for path in modules:
        rel = path.relative_to(root).as_posix()
        for top in ast.parse(path.read_text()).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in attrs
                ):
                    yield rel, owner, node.lineno, node.func.value


def test_builders_do_not_write_session_conf():
    """Package code leaves the caller's session conf alone: no module under
    batch_public_spark/ calls ``<x>.conf.set`` or ``<x>.conf.unset``
    outside the allowlist, and every allowlisted site still writes. A
    conf write in a builder changes every later query in the session (a
    pinned time zone, for one)."""
    found, matched = [], set()
    for rel, owner, line, recv in _package_calls(("set", "unset")):
        if not (isinstance(recv, ast.Attribute) and recv.attr == "conf"):
            continue
        if (rel, owner) in CONF_WRITE_ALLOWLIST:
            matched.add((rel, owner))
        else:
            found.append((rel, owner, line))
    assert not found, f"session conf written outside the allowlist: {sorted(set(found))}"
    stale = CONF_WRITE_ALLOWLIST - matched
    assert not stale, f"CONF_WRITE_ALLOWLIST entries that no longer write conf: {sorted(stale)}"


def test_cut_is_the_only_local_checkpoint():
    """``sources.tables.cut`` is the one lineage cut: no other code in the
    package calls ``localCheckpoint``, so the cluster-scale swap the
    cut's docstring describes is an edit to one function."""
    sites = [site[:3] for site in _package_calls(("localCheckpoint",))]
    assert [site[:2] for site in sites] == [("sources/tables.py", "cut")], sites


# Code lines a window must span before two function bodies count as twins.
TWIN_WINDOW = 6

# ("module:function", "module:function") pairs, sorted, whose bodies may
# share a TWIN_WINDOW-line window; the value is why the two bodies must
# stay apart. Module paths are relative to batch_public_spark/.
TWIN_ALLOWLIST: dict[tuple[str, str], str] = {}

_LAYOUT_TOKENS = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}
_STRING_TOKENS = {tokenize.STRING, getattr(tokenize, "FSTRING_MIDDLE", tokenize.STRING)}


def _function_bodies():
    """Yield ("module:function", code lines) for every top-level function
    in batch_public_spark/. A code line is the line's tokens joined by one
    space; docstrings, multi-line string literals, comments, imports and
    lines holding only brackets or commas are left out."""
    root = Path(__file__).resolve().parent.parent / "batch_public_spark"
    modules = sorted(root.rglob("*.py"))
    assert len(modules) > 20, root
    for path in modules:
        src = path.read_text()
        tree = ast.parse(src)
        skipped = set()
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                skipped.update(range(node.lineno, node.end_lineno + 1))
            elif isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and ast.get_docstring(node, clean=False) is not None:
                doc = node.body[0]
                skipped.update(range(doc.lineno, doc.end_lineno + 1))
        lines = defaultdict(list)
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type in _LAYOUT_TOKENS or tok.start[0] in skipped:
                continue
            if tok.type in _STRING_TOKENS and tok.start[0] != tok.end[0]:
                continue
            lines[tok.start[0]].append(tok.string)
        rel = path.relative_to(root).as_posix()
        for top in tree.body:
            if not isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            code = []
            for line in range(top.body[0].lineno, top.end_lineno + 1):
                toks = lines.get(line)
                if toks and not all(t in "()[]{}," for t in toks):
                    code.append(" ".join(toks))
            yield f"{rel}:{top.name}", code


def test_no_twin_bodies():
    """No two top-level functions in the package share a run of
    TWIN_WINDOW identical code lines: a copied idiom gets one helper
    beside its callers instead, so a fix to it is an edit to one body.
    Every TWIN_ALLOWLIST pair must still share a window."""
    owners = defaultdict(set)
    for owner, code in _function_bodies():
        for i in range(len(code) - TWIN_WINDOW + 1):
            owners[tuple(code[i : i + TWIN_WINDOW])].add(owner)
    shared = {}
    for window, funcs in owners.items():
        for pair in itertools.combinations(sorted(funcs), 2):
            shared.setdefault(pair, window)
    twins = {pair: window for pair, window in shared.items() if pair not in TWIN_ALLOWLIST}
    assert not twins, "function bodies sharing a %d-line window:\n%s" % (
        TWIN_WINDOW,
        "\n".join(f"{a} / {b}: {w[0]!r} ..." for (a, b), w in sorted(twins.items())),
    )
    stale = sorted(set(TWIN_ALLOWLIST) - set(shared))
    assert not stale, f"TWIN_ALLOWLIST pairs that no longer share a window: {stale}"


def test_registry_plans_are_scale_clean(spark):
    bad, warns, built = [], [], 0
    fired, warn_fired = set(), set()
    for name, spec in QUERIES.items():
        df = spec.fn(spark, SF_DIR)
        if df.isStreaming:
            continue
        built += 1
        for f in lint_plan(df):
            fired.add((name, f.kind))
            if (name, f.kind) not in ALLOWLIST:
                bad.append((name, f.kind, f.detail[:90]))
        for f in lint_plan_warnings(df):
            warn_fired.add((name, f.kind))
            if (name, f.kind) not in WARN_ALLOWLIST:
                warns.append((name, f.kind, f.detail[:90]))
    assert built > 200  # the sweep really covered the registry
    assert not bad, f"scale antipatterns in {len(bad)} plans: {bad}"
    assert not warns, f"unacknowledged warn-level findings in {len(warns)} plans: {warns}"
    stale = sorted((ALLOWLIST - fired) | (WARN_ALLOWLIST - warn_fired))
    assert not stale, f"allowlist entries whose finding no longer fires: {stale}"


# --- warn-rule fixtures: each rule must catch its deliberately-bad shape
# and stay quiet on the corresponding fixed shape. ---


def test_warn_python_rdd_scan(spark):
    bad = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    assert any(f.kind == "python-rdd-scan" for f in lint_plan_warnings(bad))
    from batch_public_spark.sources.tables import cut, inline_rows

    good = inline_rows(spark, "id int, s string", [(1, "a"), (2, "b")])
    assert not any(f.kind == "python-rdd-scan" for f in lint_plan_warnings(good))
    # Lineage cuts also print as `Scan ExistingRDD` but are a
    # deliberate idiom — provenance-based detection must NOT flag them.
    ck = cut(spark.range(100).groupBy((F.col("id") % 3).alias("g")).count())
    assert not any(f.kind == "python-rdd-scan" for f in lint_plan_warnings(ck))


def test_warn_duplicate_percentile_buffers(spark):
    bad = spark.range(100).agg(
        F.percentile("id", 0.05).alias("p05"),
        F.percentile("id", 0.95).alias("p95"),
    )
    assert any(
        f.kind == "duplicate-percentile-buffers" for f in lint_plan_warnings(bad)
    )
    fused = spark.range(100).agg(
        F.percentile("id", F.array(F.lit(0.05), F.lit(0.95))).alias("ps")
    )
    assert not any(
        f.kind == "duplicate-percentile-buffers" for f in lint_plan_warnings(fused)
    )
    # different columns: two buffers are genuinely needed — not flagged
    two_cols = spark.range(100).select("id", (F.col("id") * 2).alias("id2")).agg(
        F.percentile("id", 0.5).alias("a"), F.percentile("id2", 0.5).alias("b")
    )
    assert not any(
        f.kind == "duplicate-percentile-buffers" for f in lint_plan_warnings(two_cols)
    )


def test_warn_distinct_agg_expand(spark):
    base = spark.range(100).withColumn("g", F.col("id") % 3)
    # RewriteDistinctAggregates only Expands on 2+ DISTINCT groups (a single
    # distinct mixed with non-distinct plans as a 4-level HashAggregate
    # chain, Expand-free — probed on Spark 4.1).
    bad = base.groupBy("g").agg(
        F.countDistinct("id").alias("d"),
        F.countDistinct((F.col("id") % 7)).alias("d2"),
        F.sum("id").alias("s"),
    )
    assert any(f.kind == "distinct-agg-expand" for f in lint_plan_warnings(bad))
    # grouping-sets Expand (rollup) is NOT the distinct-agg shape
    rolled = base.rollup("g").agg(F.sum("id").alias("s"))
    assert not any(f.kind == "distinct-agg-expand" for f in lint_plan_warnings(rolled))
    # distinct-only aggregate (no mixed non-distinct leg) plans without Expand
    pure = base.groupBy("g").agg(F.countDistinct("id").alias("d"))
    assert not any(f.kind == "distinct-agg-expand" for f in lint_plan_warnings(pure))
