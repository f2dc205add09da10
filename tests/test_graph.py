"""Graph kernels (operators.graph) and the graph builders that use them:
connected components on synthetic graphs, invariants of the builders'
outputs, plan-shape pins, and the binding cases of the co-presence caps.

The fixture SFs never trip the caps (sf0.1 max co-presence bucket = 12
participants), so the driver hash attests the capped MEASURE but never
exercises the cap itself. The hot-key tests plant synthetic hot keys
ABOVE each cap and check the capped plans end-to-end — Spark query vs the
registered DuckDB oracle over the same synthetic parquet — so an engine
that ignored its cap would mismatch here:

* co-presence per-bucket participant cap (PRESENCE_BUCKET_CAP = 256;
  operators.graph._capped_presence, mirrored in every co-presence
  oracle's ``pres`` CTE) — untyped (graph_kcore_peel) and typed
  (graph_label_propagation, graph_bfs_distance, graph_modularity_score)
  paths;
* link-prediction super-hub witness cap (deg(w) > 1000 excluded from
  wedge enumeration; mirrored in the oracle's ``adjw`` CTE).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

from batch_public_spark.operators.graph import (
    PRESENCE_BUCKET_CAP,
    _capped_presence,
    connected_components,
    dedup_by_components,
)
from batch_public_spark.plans import QUERIES
from batch_public_spark.plans.lint import lint_plan
from tests.conftest import SF_DIR, assert_parity


def _rows(spark, name):
    return QUERIES[name].fn(spark, SF_DIR).collect()


def test_path_graph_converges(spark):
    """A long path needs multiple hash-min rounds (diameter > 1)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)] + [(100, 101), (101, 102)],
        "id_a long, id_b long",
    )
    got = {(r.id, r.component) for r in connected_components(edges).collect()}
    assert got == {(i, 0) for i in range(11)} | {(i, 100) for i in (100, 101, 102)}


def test_direction_insensitive(spark):
    """Edges are undirected regardless of (src, dst) order."""
    edges = spark.createDataFrame([(5, 1), (2, 5), (9, 7)], "id_a long, id_b long")
    got = {(r.id, r.component) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (5, 1), (7, 7), (9, 7)}


def test_result_schema_has_no_probe_column(spark):
    """r14: the convergence probe rides the per-round cut as an extra
    old_label column; it must never leak into the operator's result."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = connected_components(edges)
    assert out.columns == ["id", "component"]
    got = {(r.id, r.component) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_converged_star_stops_after_one_round(spark):
    """A star graph converges in one hash-min round — the probe must
    report zero changes on round 2's frame and exit without raising."""
    edges = spark.createDataFrame([(0, i) for i in range(1, 6)], "id_a long, id_b long")
    got = {(r.id, r.component) for r in connected_components(edges, max_iter=2).collect()}
    assert got == {(i, 0) for i in range(6)}


def test_dedup_by_components_keeps_min_and_isolated(spark):
    df = spark.createDataFrame([(i, f"t{i}") for i in range(6)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "id_a long, id_b long")
    kept = sorted(r.doc_id for r in dedup_by_components(df, pairs).collect())
    # components {0,1,2} -> keep 0; {4,5} -> keep 4; 3 isolated -> kept
    assert kept == [0, 3, 4]


def test_link_prediction_scores_are_bounded_and_open(spark):
    rows = _rows(spark, "graph_link_prediction")
    assert rows, "top-k must be non-empty"
    for r in rows:
        assert r.common_neighbors >= 1, r
        assert 0 < r.jaccard <= 1, r
        # each AA term is at most 1/ln 2 (witness degree >= 2)
        assert 0 < r.adamic_adar <= r.common_neighbors / math.log(2) + 1e-9, r
        assert r.x < r.y, r


def test_modularity_bounds(spark):
    (r,) = _rows(spark, "graph_modularity_score")
    # Newman modularity is bounded in [-1/2, 1)
    assert -0.5 <= r.modularity < 1.0, r


def test_graph_family_has_no_unbounded_broadcast(spark):
    """The r9-flagged names must stay clean of the r10 lint finding after
    their hints were dropped (the registry-wide gate also covers this;
    the named re-assertion is the verdict's 'done' criterion)."""
    for name in (
        "graph_modularity_score",
        "graph_bfs_distance",
        "q17_small_quantity_revenue",
        "llmops_containment_neardup",
        # r11: the O(|V|) degree-table hints that hid behind the
        # localCheckpoint lineage cut until the LogicalRDD lint rule.
        "graph_link_prediction",
    ):
        df = QUERIES[name].fn(spark, SF_DIR)
        kinds = [f.kind for f in lint_plan(df)]
        assert "unbounded-broadcast" not in kinds, (name, kinds)


def test_link_prediction_wedge_repartition_survives(spark):
    """The wedge stage's parallelism pin must be a USER repartition
    (REPARTITION_BY_NUM) in the executed plan: when the r10 broadcast
    hints were dropped, EnsureRequirements pruned the old
    above-the-degree-join repartition as redundant against its own
    ENSURE_REQUIREMENTS exchange, which AQE then coalesced to ~2 tasks —
    serializing the deg²-amplified wedge join (a 2× regression at sf0.1).
    The pin now sits below the degree join; if it ever gets pruned again,
    REPARTITION_BY_NUM disappears from the plan and this fails."""
    df = QUERIES["graph_link_prediction"].fn(spark, SF_DIR)
    df.collect()
    p = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    assert "isFinalPlan=true" in p, p[:500]
    assert "REPARTITION_BY_NUM" in p, "wedge repartition pin was pruned"


# --- binding cases of the co-presence caps ---


BASE_TS = pd.Timestamp("2024-03-01 00:00:00")


def _write_events(tmpdir, rows: pd.DataFrame) -> str:
    """Write a synthetic events table with the exact testdata schema."""
    df = pd.DataFrame(
        {
            "event_id": np.arange(len(rows), dtype="int64"),
            "ts": rows["ts"].astype("datetime64[us]"),
            "user_id": rows["user_id"].astype("int64"),
            "event_type": rows.get("event_type", pd.Series(["view"] * len(rows))).astype(
                str
            ),
            "value": np.ones(len(rows), dtype="float64"),
            "props": ["{}"] * len(rows),
        }
    )
    path = str(tmpdir)
    df.to_parquet(f"{path}/events.parquet", index=False)
    return path


_CONS: dict = {}  # keep connections alive until their relations are read


def _oracle(sf_dir: str, name: str):
    con = _CONS.get(sf_dir)
    if con is None:
        con = _CONS[sf_dir] = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    return con.sql(QUERIES[name].oracle)


def test_capped_presence_unit_matches_duckdb(spark):
    """_capped_presence vs the oracle row_number idiom on a skewed grid:
    exact set equality of survivors, including at the cap boundary."""
    rng = np.random.default_rng(7)
    users = rng.integers(0, 2000, size=6000)
    buckets = np.concatenate(
        [np.zeros(3000, dtype="int64"), rng.integers(1, 40, size=3000)]
    )
    pdf = pd.DataFrame({"u": users, "b": buckets}).drop_duplicates()
    sdf = _capped_presence(spark.createDataFrame(pdf), "b")
    got = {(r.u, r.b) for r in sdf.collect()}
    con = duckdb.connect()
    con.register("pres0", pdf)
    want = {
        (r[0], r[1])
        for r in con.sql(
            f"""SELECT u, b FROM (
                  SELECT u, b, row_number() OVER (PARTITION BY b ORDER BY u) rn
                  FROM pres0)
                WHERE rn <= {PRESENCE_BUCKET_CAP}"""
        ).fetchall()
    }
    assert got == want
    hot = pdf[pdf.b == 0].u.nunique()
    assert hot > PRESENCE_BUCKET_CAP, "fixture must exceed the cap"
    assert sum(1 for (_, b) in got if b == 0) == PRESENCE_BUCKET_CAP


@pytest.fixture(scope="module")
def hot_bucket_dir(tmp_path_factory):
    """One minute bucket with 300 distinct users (> cap 256) plus sparse
    background activity so the graph has non-degenerate structure."""
    rows = []
    # hot minute: 300 users, same event_type (trips typed AND untyped caps)
    for u in range(300):
        rows.append((BASE_TS + pd.Timedelta(seconds=u % 60), 10_000 + u, "view"))
    # background: 20 users across 10 cold minutes, two types
    for m in range(1, 11):
        for u in range(20):
            rows.append(
                (
                    BASE_TS + pd.Timedelta(minutes=m, seconds=u),
                    20_000 + (u + m) % 25,
                    "view" if u % 2 else "click",
                )
            )
    pdf = pd.DataFrame(rows, columns=["ts", "user_id", "event_type"])
    return _write_events(tmp_path_factory.mktemp("hotbucket"), pdf)


def test_kcore_hot_bucket_capped_parity(spark, hot_bucket_dir):
    """Untyped cap path: the 300-user minute must enter the k-core graph
    as exactly 256 participants in BOTH engines (clique edges 256·255/2),
    and full query output must match the oracle."""
    sdf = QUERIES["graph_kcore_peel"].fn(spark, hot_bucket_dir)
    rel = _oracle(hot_bucket_dir, "graph_kcore_peel")
    assert_parity(sdf, rel, "graph_kcore_peel[hot-bucket]")
    r1 = {r.round: r for r in sdf.collect()}[1]
    cap_clique = PRESENCE_BUCKET_CAP * (PRESENCE_BUCKET_CAP - 1) // 2
    uncapped_clique = 300 * 299 // 2
    assert r1.n_edges < uncapped_clique, "cap did not bind"
    # hot-bucket clique survives k=12 peeling intact; background users are
    # capped-irrelevant (bucket size ≤ 25) and may add a few edges
    assert r1.n_edges >= cap_clique
    assert r1.n_nodes >= PRESENCE_BUCKET_CAP


@pytest.mark.parametrize(
    "name", ["graph_label_propagation", "graph_bfs_distance", "graph_modularity_score"]
)
def test_typed_hot_bucket_capped_parity(spark, hot_bucket_dir, name):
    """Typed cap path ((bucket, event_type) key): every typed co-presence
    builder matches its oracle on the capped hot bucket — the default-SF
    fixture has no typed edges at all, so this is these builders' only
    default-lane check on a real graph. LPA's biggest community is the
    CAPPED hot clique — 256, not 300 — in both engines."""
    sdf = QUERIES[name].fn(spark, hot_bucket_dir)
    rel = _oracle(hot_bucket_dir, name)
    assert_parity(sdf, rel, f"{name}[hot-bucket]")
    if name == "graph_label_propagation":
        sizes = [r.community_size for r in sdf.collect()]
        assert max(sizes) == PRESENCE_BUCKET_CAP, sizes


@pytest.fixture(scope="module")
def hub_witness_dir(tmp_path_factory):
    """A hub user co-present in 40 small buckets (degree > 1000) plus
    bridge users linking consecutive buckets, so open wedges exist that
    are witnessed ONLY by capped-in witnesses. Bucket sizes alternate
    (29/25) and every third gap gets a SECOND bridge, so the surviving
    candidates span distinct (common_neighbors, jaccard, adamic_adar)
    values — non-vacuous by construction."""
    rows = []
    for b in range(40):
        t0 = BASE_TS + pd.Timedelta(minutes=b)
        rows.append((t0, 0, "view"))  # the hub
        size = 29 if b % 2 == 0 else 25
        for i in range(size):
            rows.append((t0 + pd.Timedelta(seconds=1 + i), 1000 * (b + 1) + i, "view"))
        if b > 0:  # bridge: first member of bucket b also in bucket b-1
            rows.append(
                (t0 - pd.Timedelta(seconds=10), 1000 * (b + 1), "view")
            )
        if b > 0 and b % 3 == 0:  # second bridge every third gap
            rows.append(
                (t0 - pd.Timedelta(seconds=9), 1000 * (b + 1) + 1, "view")
            )
    pdf = pd.DataFrame(rows, columns=["ts", "user_id", "event_type"])
    return _write_events(tmp_path_factory.mktemp("hubwitness"), pdf)


def test_link_prediction_witness_cap_parity(spark, hub_witness_dir):
    """The hub (degree 1044) must be EXCLUDED as a wedge witness in both
    engines: candidate pairs bridged only by the hub disappear, and
    surviving scores count only sub-cap witnesses. An engine that ignored
    the witness cap would score cross-bucket pairs through the hub and
    mismatch here."""
    sdf = QUERIES["graph_link_prediction"].fn(spark, hub_witness_dir)
    rel = _oracle(hub_witness_dir, "graph_link_prediction")
    assert_parity(sdf, rel, "graph_link_prediction[hub-witness]")
    rows = sdf.collect()
    assert rows, "open wedges must survive the cap (bridge-witnessed)"
    for r in rows:
        # with the hub capped out, every witness has degree ≤ 60ish and
        # each AA term ≥ 1/ln(100); hub terms would be 1/ln(1044) ≈ 0.144
        assert r.adamic_adar >= r.common_neighbors / math.log(100.0) - 1e-9, r
