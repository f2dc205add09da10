"""Static scale-antipattern linter for physical plans.

Round 3's verdict hunt for "WindowExec: No Partition Defined" was manual;
this makes it systematic: every registered query's executed plan is swept
for the three antipatterns that are invisible at test scale and fatal at
100 TB —

* **unpartitioned-window** — a window function whose spec has no
  partition keys funnels the whole input through ONE task. (The
  registry's deliberate bounded cases use a constant-valued non-foldable
  partition key, e.g. ``F.col("n") * 0``, precisely so they stay visible
  to the planner as partitioned AND to reviewers as acknowledged.)
* **cartesian-product** — a ``CartesianProduct`` node means neither side
  broadcast: |L|×|R| row pairs materialize. Broadcast variants
  (BroadcastNestedLoopJoin) are allowed; they stream the big side once.
* **row-python-udf** — ``BatchEvalPython`` is the row-at-a-time Python
  UDF path (pickled rows over a socket); the Arrow-vectorized operators
  (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas / MapInArrow)
  do not trip this.
* **uncapped-bucket-self-join** — an equi-join whose left and right keys
  are the SAME-NAMED attribute (the self-join shape: the analyzer keeps
  the name and re-ids one side) and whose key is a DERIVED BUCKET
  (floor/date_trunc/time-window/div expression), with no row_number cap
  partitioned by that bucket anywhere in the plan. Such a join emits
  m²/2 pairs for a bucket with m rows — invisible at test scale, a
  quadratic single-task killer on one hot key at 100 TB (the
  co-presence-graph antipattern r8's verdict flagged; the fix template
  is operators.graph._capped_presence). Known blind spot: the shape is
  detected by SHARED KEY NAME, so a true bucket self-join whose
  re-aliased side RENAMES the key escapes detection (and, conversely,
  two different tables sharing a column name can be flagged — handled
  via the gate's allowlist). Reviewers adding a renamed-key self-join
  must not assume this finding covers it.
* **unbounded-broadcast** — an EXPLICIT ``F.broadcast()`` hint whose
  hinted side is a keyed aggregate/distinct over a fact-table relation
  with no limit / row_number cap in its subtree (read from the optimized
  LOGICAL plan, where hints survive as ``…Hint=(strategy=broadcast)``):
  the forced frame scales with the key population and exceeds the 8 GB
  broadcast ceiling (or OOMs the driver) at target scale, while a
  planner/AQE-chosen broadcast simply reverts to a shuffle join when
  big. Scalar aggregates (1 row) and capped builds pass; justified
  low-cardinality keys go on the gate's allowlist (the r9-verdict
  graph-family antipattern).

Used by tests/test_plan_lint.py as a registry-wide gate with an explicit,
justified allowlist; importable for ad-hoc use::

    from batch_public_spark.plans.lint import lint_plan
    for f in lint_plan(df):
        print(f.kind, f.detail)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Finding:
    kind: str
    detail: str


def bounded_window_key(int_col: Column) -> Column:
    """The acknowledged-bounded-global-window idiom: a constant-valued,
    NON-FOLDABLE partition key (``pmod(x, 1)`` — always 0 for integer
    inputs, but data-dependent so the optimizer cannot fold it away, and
    the plan's windowspecdefinition keeps an explicit partition key).

    Use this ONLY when the window's input is provably bounded (e.g. the
    survivors of a TakeOrdered ``limit(k)``): it documents in code AND in
    the physical plan that the single partition is deliberate. Pass an
    integer-typed column — ``pmod`` on doubles keeps the fraction and
    would split partitions. A naive ``col * 0`` is silently
    constant-folded and the window reverts to an (apparently)
    unpartitioned spec, which lint_plan flags."""
    return F.pmod(int_col, F.lit(1))


def _executed_plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def _balanced_args(text: str, start: int) -> str:
    """Return the argument string of the call whose '(' sits at
    ``start``, honoring nested parens."""
    depth = 0
    for i in range(start, len(text)):
        c = text[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return text[start + 1 : i]
    return text[start + 1 :]


def _split_top_level(args: str) -> list[str]:
    out, depth, cur = [], 0, []
    for c in args:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
    if cur:
        out.append("".join(cur).strip())
    return out


def _window_partition_keys(spec_args: str) -> list[str]:
    """Partition keys are the leading windowspecdefinition args that are
    neither ORDER BY items (suffixed ``ASC``/``DESC`` at top level) nor
    the trailing ``specifiedwindowframe(...)``."""
    keys = []
    for arg in _split_top_level(spec_args):
        if arg.startswith("specifiedwindowframe"):
            break
        if arg.endswith("NULLS FIRST") or arg.endswith("NULLS LAST"):
            break
        keys.append(arg)
    return keys


_BUCKET_FNS = ("floor(", "date_trunc(", "window(", " div ", "unix_seconds(")


def _attr_name(expr: str) -> str | None:
    """First attribute reference's base name in a join-key expression
    (strips casts/normalizers: ``knownfloatingpointnormalized(cast(b#51L
    ...`` → ``b``)."""
    import re

    m = re.search(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", expr)
    return m.group(1) if m else None


def _defining_arg(plan: str, pos: int) -> str:
    """The full projection argument ending at the ``AS name#`` located at
    ``pos``: scan backwards to the enclosing top-level ``,`` or ``[``,
    honoring nested parens, so bucket-function detection inspects ONLY
    the expression assigned to that alias, not its whole Project line."""
    depth = 0
    i = pos - 1
    while i >= 0:
        c = plan[i]
        if c == ")":
            depth += 1
        elif c == "(":
            if depth == 0:
                break
            depth -= 1
        elif c in ",[" and depth == 0:
            break
        elif c == "\n":
            break
        i -= 1
    return plan[i + 1 : pos]


def _bucket_derived_names(plan: str) -> set[str]:
    """Attribute base names whose defining projection expression contains
    a bucket-derivation function (floor / date_trunc / window / div)."""
    import re

    names: set[str] = set()
    for m in re.finditer(r" AS ([A-Za-z_][A-Za-z0-9_]*)#\d+", plan):
        arg = _defining_arg(plan, m.start()).lower()
        if any(fn in arg for fn in _BUCKET_FNS):
            names.add(m.group(1))
    return names


def _row_number_capped_names(plan: str) -> set[str]:
    """Base names that appear as partition keys of a row_number window —
    the deterministic per-bucket cap idiom (operators.graph._capped_presence)."""
    import re

    capped: set[str] = set()
    idx = 0
    while True:
        idx = plan.find("row_number() windowspecdefinition(", idx)
        if idx < 0:
            break
        args = _balanced_args(plan, idx + len("row_number() windowspecdefinition"))
        for key in _window_partition_keys(args):
            m = re.match(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", key.strip())
            if m:
                capped.add(m.group(1))
        idx += len("row_number() windowspecdefinition(")
    return capped


# One distinctive column per SF-scaling fact table: a logical ``Relation``
# line lists the file's FULL schema (column pruning happens in a Project
# above it), so these identify the underlying table even through renames.
_FACT_RELATION_MARKERS = {
    "lineitem": "l_linenumber#",
    "orders": "o_orderpriority#",
    "events": "event_type#",
    "documents": "doc_id#",
    "embeddings": "vec_id#",
    # SF-scaled TPC-H "dimensions" (r10 verdict #2): customer/part/supplier
    # grow linearly with scale factor (~10¹⁰ rows at TPC-H 100 TB) — only
    # nation/region are genuinely fixed-size. A hinted broadcast of a raw
    # or merely-filtered c/s/p frame is the same class of defect as a raw
    # fact broadcast.
    "customer": "c_mktsegment#",
    "supplier": "s_acctbal#",
    "part": "p_brand#",
}

def _content_col(line: str) -> int:
    """Column where the node text begins (tree prefix is ' ', ':', '+', '-')."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


import re as _re

# Raw columns whose distinct population scales with the data (row ids,
# entity ids): a frame keyed by — or scanning — one of these grows with
# the corpus. Enum-like columns (event_type, priorities, buckets, bins)
# deliberately are NOT here: frames keyed by them are domain-bounded.
_POPULATION_ID_RE = _re.compile(
    r"\b(user_id|doc_id|vec_id|event_id|o_orderkey|o_custkey|"
    r"c_custkey|l_orderkey|l_partkey|l_suppkey|p_partkey|s_suppkey)#"
)


def _strip_windowspecs(expr: str) -> str:
    """Remove ``windowspecdefinition(…)`` argument lists: a window's
    PARTITION key (often a population id) does not shape the VALUES the
    window function emits — ``lag(event_type) OVER (PARTITION BY
    user_id)`` is event_type-domain, not user-domain."""
    out = []
    i = 0
    while True:
        j = expr.find("windowspecdefinition(", i)
        if j < 0:
            out.append(expr[i:])
            return "".join(out)
        out.append(expr[i : j + len("windowspecdefinition")])
        depth = 0
        k = j + len("windowspecdefinition")
        while k < len(expr):
            if expr[k] == "(":
                depth += 1
            elif expr[k] == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        out.append("()")
        i = k + 1


def _strip_outer_parens(expr: str) -> str:
    expr = expr.strip()
    while expr.startswith("(") and expr.endswith(")"):
        depth = 0
        for i, c in enumerate(expr):
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0 and i != len(expr) - 1:
                    return expr  # the opening paren closes early — not outer
        expr = expr[1:-1].strip()
    return expr


def _split_on_top_level(expr: str, sep: str) -> list[str]:
    """Split ``expr`` on a `` SEP `` keyword at paren depth 0."""
    out, depth, start, i = [], 0, 0, 0
    token = f" {sep} "
    while i < len(expr):
        c = expr[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and expr.startswith(token, i):
            out.append(expr[start:i])
            i += len(token)
            start = i
            continue
        i += 1
    out.append(expr[start:])
    return [p.strip() for p in out if p.strip()]


def _top_level_conjuncts(cond: str) -> list[str]:
    """AND-conjuncts of a rendered filter condition, outer parens peeled
    per conjunct so `(a AND (b OR c))` yields ['a', 'b OR c']."""
    return [
        _strip_outer_parens(p)
        for p in _split_on_top_level(_strip_outer_parens(cond), "AND")
    ]


def _contains_top_level_disjunction(conjunct: str) -> bool:
    return len(_split_on_top_level(conjunct, "OR")) > 1


def _resolves_to_population_id(sub: str, expr: str, depth: int = 0) -> bool:
    """True if ``expr`` mentions a population-id column, directly or via
    alias definitions (`… AS name#id`) found in the rendered subtree."""
    import re

    expr = _strip_windowspecs(expr)
    if _POPULATION_ID_RE.search(expr):
        return True
    if depth >= 8:
        return False
    for m in re.finditer(r"[A-Za-z_][A-Za-z0-9_]*#\d+", expr):
        p = sub.find(f" AS {m.group(0)}")
        if p >= 0 and _resolves_to_population_id(
            sub, _defining_arg(sub, p), depth + 1
        ):
            return True
    return False


def _child_indices(lines: list[str], i: int, end: int) -> list[int]:
    col = _content_col(lines[i])
    kids: list[int] = []
    for j in range(i + 1, end):
        c = _content_col(lines[j])
        if c <= col:
            break
        if c == col + 3:
            kids.append(j)
    return kids


def _subtree_population_scale(lines: list[str], i: int, end: int, sub: str) -> bool:
    """Conservative static cardinality walk over a rendered logical
    subtree: does this node's OUTPUT row count scale with the key
    population? Limits and scalar aggregates bound; a keyed aggregate /
    dropDuplicates is judged by whether its keys resolve to a
    population-id column (keys on enum/bucket domains are domain-bounded);
    a raw fact relation is population-scale; semi joins are bounded if
    either input is (an equality probe against a capped set); anti joins
    follow their left input; everything else passes through its
    children."""
    import re

    col = _content_col(lines[i])
    body = lines[i][col:]
    if body.startswith(("GlobalLimit", "LocalLimit")):
        return False
    if body.startswith("Filter "):
        # A literal upper bound / equality / IN-list on a population id is
        # a FIXED-COUNT selection (the ANN family's `vec_id < 5` query
        # samples and `vec_id < 4` centroid seeds). A modulo fraction
        # (`(vec_id % 20) = 0`) does NOT match — the attr must compare to
        # the literal directly — and stays population-scale by design.
        # The comparison must also be a TOP-LEVEL CONJUNCT of the filter
        # condition (r10 ADVICE): inside an OR/NOT branch it selects
        # nothing on its own (`vec_id = 5 OR isnotnull(x)` is still
        # population-scale), so split on top-level AND before matching.
        for conjunct in _top_level_conjuncts(body[len("Filter ") :]):
            if _contains_top_level_disjunction(conjunct) or conjunct.startswith(
                "NOT "
            ):
                continue
            for fm in re.finditer(
                r"([A-Za-z_][A-Za-z0-9_]*#\d+L?)\s*(?:<=? \d|= \d|IN \(\d)",
                conjunct,
            ):
                if _resolves_to_population_id(sub, fm.group(1)):
                    return False
    m = re.match(r"Aggregate \[(.*?)\], \[", body)
    if m is None and body.startswith("Deduplicate ["):
        m = re.match(r"Deduplicate \[(.*?)\]", body)
    if m is None:
        # A distinct whose grouping and output lists coincide can print as
        # ONE bracket group of bare attributes ("Aggregate [k#1L]") —
        # keyed. With functions/aliases in the group (or no group at all:
        # a fully-pruned count prints as bare "Aggregate") it is a scalar.
        m1 = re.match(r"Aggregate \[([^\]]*)\]\s*$", body)
        if m1 and " AS " not in m1.group(1) and "(" not in m1.group(1):
            m = m1
    if m is not None:
        # Output cardinality = min(#distinct keys, input rows): population
        # only when the keys are id-domain AND the input itself is
        # population-scale (an id-keyed aggregate over a capped input —
        # e.g. the distinct codewords of two literal-bounded sides — is
        # bounded by the input).
        if not any(
            _resolves_to_population_id(sub, k)
            for k in _split_top_level(m.group(1))
        ):
            return False
        kids = _child_indices(lines, i, end)
        ends = [*kids[1:], end]
        return any(
            _subtree_population_scale(lines, k, e, sub)
            for k, e in zip(kids, ends)
        )
    if body.startswith("Aggregate"):  # scalar aggregate → 1 row
        return False
    if body.startswith("Relation "):
        return any(mk in body for mk in _FACT_RELATION_MARKERS.values())
    if body.startswith("InMemoryRelation ["):
        # A cached frame is a leaf whose rendered children are the cached
        # PHYSICAL plan (no `Relation` line): judge it by its output list,
        # so a cached fact table is still a fact scan.
        output = body[len("InMemoryRelation [") :].split("]", 1)[0]
        return any(mk in output for mk in _FACT_RELATION_MARKERS.values())
    if body.startswith(("LogicalRDD", "ExistingRDD")):
        # A cut (sources.tables.cut) or RDD-backed frame is a lineage-less
        # leaf: the walk cannot see what produced it, so an explicit broadcast
        # hint over one is population-scale-unless-allowlisted. This closes the
        # r10 blind spot where graph_link_prediction's checkpointed O(|V|)
        # degree table rendered as a bare LogicalRDD and slipped the gate.
        return True
    kids = _child_indices(lines, i, end)
    if not kids:
        return False
    ends = [*kids[1:], end]
    walks = [
        _subtree_population_scale(lines, k, e, sub) for k, e in zip(kids, ends)
    ]
    if body.startswith("Join LeftSemi"):
        return all(walks)
    if body.startswith("Join LeftAnti"):
        return walks[0]
    return any(walks)


def _unbounded_broadcast_findings(logical_plan: str) -> list[Finding]:
    """Flag an EXPLICIT ``F.broadcast()`` hint (``…Hint=(strategy=
    broadcast)`` on a logical Join) whose hinted side is population-scale
    per ``_subtree_population_scale``: the forced-broadcast frame grows
    with the data (distinct users / docs / vectors / orders) and blows the
    8 GB broadcast ceiling or the driver exactly at target scale — the
    r9-verdict graph_modularity / BFS-visited antipattern. Only HINTED
    joins trip this: a planner/AQE-chosen broadcast is statistics-based
    and simply reverts to a shuffle join when the frame is big, so it is
    scale-safe by construction. Known over-approximation: an id-keyed
    aggregate over an input that is itself capped (e.g. the distinct
    neighbors of a LIMIT-k sample) is statically indistinguishable from an
    uncapped one — such justified-bounded broadcasts go on the gate's
    allowlist with the bound stated. Known blind spot: frames keyed by
    unbounded TEXT-derived domains (terms, shingles) don't resolve to an
    id column and escape; the hot-path text operators all shuffle instead
    of broadcasting, so the residual risk is accepted."""
    lines = logical_plan.splitlines()
    findings: list[Finding] = []
    for i, line in enumerate(lines):
        col = _content_col(line)
        body = line[col:]
        if not body.startswith("Join "):
            continue
        hinted = [
            side
            for side, marker in (
                (0, "leftHint=(strategy=broadcast"),
                (1, "rightHint=(strategy=broadcast"),
            )
            if marker in body
        ]
        if not hinted:
            continue
        kids = _child_indices(lines, i, len(lines))
        # subtree end of the join node itself
        jend = len(lines)
        for j in range(i + 1, len(lines)):
            if lines[j].strip() and _content_col(lines[j]) <= col:
                jend = j
                break
        kid_ends = [*kids[1:], jend]
        for side in hinted:
            if side >= len(kids):
                continue
            k, e = kids[side], kid_ends[side]
            sub = "\n".join(lines[k:e])
            if _subtree_population_scale(lines, k, e, sub):
                findings.append(
                    Finding(
                        "unbounded-broadcast",
                        "explicit broadcast hint on a population-scale frame "
                        f"(root: {lines[k][_content_col(lines[k]):][:80]})",
                    )
                )
    return findings


def _self_join_bucket_findings(plan: str) -> list[Finding]:
    import re

    bucket_names = _bucket_derived_names(plan)
    if not bucket_names:
        return []
    capped = _row_number_capped_names(plan)
    findings: list[Finding] = []
    join_re = re.compile(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)\s*"
        r"(?:\w+\s+)?\[([^\]]*)\],\s*\[([^\]]*)\]"
    )
    for m in join_re.finditer(plan):
        lkeys = [_attr_name(k) for k in _split_top_level(m.group(2))]
        rkeys = [_attr_name(k) for k in _split_top_level(m.group(3))]
        if not lkeys or lkeys != rkeys:
            continue  # not the self-join shape (different key names)
        hot = [n for n in lkeys if n in bucket_names and n not in capped]
        if hot:
            findings.append(
                Finding(
                    "uncapped-bucket-self-join",
                    f"keys {sorted(set(hot))}: {m.group(0)[:100]}",
                )
            )
    return findings


def _duplicate_percentile_findings(plan: str) -> list[Finding]:
    """WARN: 2+ separate buffers of the SAME function (``percentile`` or
    ``approx_percentile``) over the SAME column expression inside one
    aggregate node; buffers of different functions cannot be shared, so
    they never pair. Each buffer gathers the full value list
    independently; the array form
    ``percentile(col, array(p1, p2, ...))`` computes every requested
    quantile from ONE buffer with identical interpolation arithmetic
    (the r14 fusion, −15 to −55% on the touched queries)."""
    findings: list[Finding] = []
    seen: set[str] = set()
    for line in plan.splitlines():
        stripped = line.strip().lstrip(":+- ")
        if "Aggregate" not in stripped.split("(")[0].split("[")[0]:
            continue
        keys: list[tuple[str, str]] = []  # (function, first argument)
        idx = 0
        while True:
            hit = None
            for fn in ("percentile(", "approx_percentile("):
                j = stripped.find(fn, idx)
                if j >= 0 and (hit is None or j < hit[0]):
                    hit = (j, fn)
            if hit is None:
                break
            j, fn = hit
            args = _balanced_args(stripped, j + len(fn) - 1)
            top = _split_top_level(args)
            if top and not top[min(1, len(top) - 1)].lstrip().startswith("["):
                # scalar-percentage form only; the fused array form is
                # exactly the fix and never flags
                keys.append((fn[:-1], top[0]))
            idx = j + len(fn)
        for fn_name, a in sorted({x for x in keys if keys.count(x) >= 2}):
            key = f"{fn_name}×{keys.count((fn_name, a))} over {a}"
            if key not in seen:
                seen.add(key)
                findings.append(Finding("duplicate-percentile-buffers", key[:120]))
    return findings


def _distinct_expand_findings(plan: str) -> list[Finding]:
    """WARN: ``count(DISTINCT)`` mixed with non-distinct aggregates plans
    through RewriteDistinctAggregates' Expand — every input row is
    duplicated once per aggregate group and the distinct leg loses partial
    aggregation. Detected by the Expand node's synthesized ``gid`` column
    (grouping-sets Expands synthesize ``spark_grouping_id`` instead). The
    fix template is the pre-aggregate-to-distinct-pairs rewrite
    (agg_approx_distinct_accuracy, r14); fine on tiny inputs — warn-level."""
    findings: list[Finding] = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        stripped = line.strip().lstrip(":+- ")
        if not stripped.startswith("Expand"):
            continue
        window = " ".join(lines[i : i + 2])
        if "gid#" in window and "spark_grouping_id" not in window:
            findings.append(Finding("distinct-agg-expand", stripped[:120]))
    return findings


def lint_plan_warnings(df: DataFrame) -> list[Finding]:
    """Warn-level lint (r15): antipatterns that are measured performance
    cliffs rather than scale-fatal shapes. Kept out of :func:`lint_plan`
    so the hard gate's semantics are unchanged; the registry sweep checks
    these against their own justified allowlist.

    * **python-rdd-scan** — an ``RDDScanExec`` whose RDD was created by
      ``applySchemaToPythonRDD`` means rows entered the plan through a
      Python RDD (``createDataFrame`` of driver rows): every action pays
      a Python-worker wave + pickle round-trip just to read constants.
      Literal fixtures belong on ``inline_rows`` (pure JVM generator; the
      r14 migration removed this from 17 sites). Provenance is read from
      the scan RDD's creation site because the PLAN STRING cannot
      distinguish this from a lineage cut — both print as
      ``Scan ExistingRDD``, and cuts are a deliberate, documented idiom
      (``sources.tables.cut``).
    * **duplicate-percentile-buffers** — see
      :func:`_duplicate_percentile_findings`.
    * **distinct-agg-expand** — see :func:`_distinct_expand_findings`.
    """
    plan = _executed_plan_string(df)
    findings: list[Finding] = []
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()  # noqa: SLF001
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if "RDDScan" not in leaf.getClass().getSimpleName():
            continue
        # first line of the RDD debug string = its creation site
        origin = leaf.rdd().toDebugString().splitlines()[0]
        if "applySchemaToPythonRDD" in origin:
            findings.append(
                Finding("python-rdd-scan", str(leaf.nodeName())[:120])
            )
    findings.extend(_duplicate_percentile_findings(plan))
    findings.extend(_distinct_expand_findings(plan))
    return findings


def lint_plan(df: DataFrame) -> list[Finding]:
    """Lint a (batch) DataFrame's executed plan. Streaming DataFrames
    have no executed plan before ``start()`` — callers skip them."""
    plan = _executed_plan_string(df)
    findings: list[Finding] = []

    idx = 0
    while True:
        idx = plan.find("windowspecdefinition(", idx)
        if idx < 0:
            break
        args = _balanced_args(plan, idx + len("windowspecdefinition"))
        if not _window_partition_keys(args):
            findings.append(Finding("unpartitioned-window", args[:120]))
        idx += len("windowspecdefinition(")

    for line in plan.splitlines():
        stripped = line.strip().lstrip(":+- ")
        if stripped.startswith("CartesianProduct"):
            findings.append(Finding("cartesian-product", stripped[:120]))
        if stripped.startswith("BatchEvalPython"):
            findings.append(Finding("row-python-udf", stripped[:120]))
    findings.extend(_self_join_bucket_findings(plan))
    # Hint analysis reads the OPTIMIZED LOGICAL plan: explicit broadcast
    # hints survive there as Join …Hint=(strategy=broadcast) annotations,
    # whereas the physical plan cannot distinguish a forced broadcast from
    # a statistics-chosen (scale-safe) one.
    logical = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    findings.extend(_unbounded_broadcast_findings(logical))
    return findings
