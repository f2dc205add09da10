from __future__ import annotations

import glob
import math
import os
import sys
import tempfile
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from batch_public_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "batch_public_spark-tests", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    yield s


@pytest.fixture(scope="session", autouse=True)
def no_leaked_stream_checkpoints(tmp_path_factory):
    """Fail the session if the suite leaves temporary streaming checkpoint
    directories behind (streaming.ops removes its own). The session's
    temporary files go to a private directory, so another process's
    running stream in the shared temp directory is not mistaken for a
    leak."""
    private = tmp_path_factory.mktemp("tempdir")
    saved, tempfile.tempdir = tempfile.tempdir, str(private)
    try:
        yield
    finally:
        tempfile.tempdir = saved
    leaked = sorted(glob.glob(os.path.join(private, "bps_ckpt_*")))
    assert not leaked, f"leaked streaming checkpoint dirs: {leaked}"


@pytest.fixture(scope="session")
def ddb():
    """DuckDB connection with the same parquet tables registered as views —
    mirrors the driver's oracle harness."""
    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def _canon(v):
    """Canonicalize a cell for order-insensitive comparison."""
    if v is None:
        return None
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):  # date/datetime
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
    except ImportError:  # pragma: no cover
        pass
    return v


# Queries allowed to produce empty or all-constant results at the TEST SF
# (each with a reason). Everything else must show variation: a fixture
# whose measures are one repeated value verifies nothing about the plan
# (the vocab-coverage lesson — three vacuous-result catches by r6, eight
# more plus two zero-row plans caught when this gate landed in r7).
VACUOUS_OK: set[str] = {
    # TPC-H spec shapes — parameters fixed by the spec, not calibratable.
    # Both are non-vacuous at sf0.01, the driver's correctness SF (q20:
    # 4 rows; q8: mkt_share varies); only the sf0.001 smoke SF degenerates.
    "q20_part_volume_suppliers",
    "q8_market_share",
    # The typed co-presence graph (same minute + same event_type) has zero
    # edges at the sf0.001 smoke SF (15 users over sparse minutes), so LPA
    # emits no communities and BFS emits all-zero counts there. Both are
    # genuinely multi-valued at sf0.01, the driver's correctness SF
    # (LPA: 9 histogram rows; BFS: 1/6/12/35 reached + 87 unreached).
    # tests/test_graph.py checks both against their oracles on a synthetic
    # hot-bucket graph in the default lane.
    "graph_label_propagation",
    "graph_bfs_distance",
}


def _assert_not_vacuous(query_name: str, ddb_df, float_cols=None) -> None:
    """Fixture-calibration gate (verdict-r6 item #7): the oracle result must
    have >0 rows, and if it has float-typed measure columns and >1 row, at
    least one of them must take more than one value — otherwise the
    hash-match is vacuously green and the threshold needs recalibrating.

    ``float_cols``: the caller passes the DuckDB-typed float columns when
    it has them (r9 ADVICE fix: pandas coerces a nullable BIGINT to
    float64, so dtype-sniffing the frame would vacuity-check an
    int-for-parity column); falls back to pandas dtypes otherwise."""
    if query_name in VACUOUS_OK:
        return
    assert len(ddb_df) > 0, (
        f"{query_name}: oracle returned 0 rows at this SF — the hash-match "
        "is vacuous; recalibrate the query's thresholds to the fixture"
    )
    if len(ddb_df) == 1:
        return
    if float_cols is None:
        float_cols = [
            c for c in ddb_df.columns if str(ddb_df[c].dtype).startswith("float")
        ]
    if not float_cols:
        return
    for c in float_cols:
        if ddb_df[c].nunique(dropna=False) > 1:
            return
    raise AssertionError(
        f"{query_name}: every float measure column {float_cols} is a single "
        "repeated value across all rows — vacuous fixture calibration; "
        "adjust thresholds/parameters or add to VACUOUS_OK with a reason"
    )


def assert_parity(spark_df, ddb_rel, query_name: str = "?"):
    """Mimic the driver's correctness gate: sort columns by name, compare
    row multisets exactly."""
    spark_cols = sorted(spark_df.columns)
    ddb_df = ddb_rel.df()
    # float-typed per DuckDB's OWN result types, not pandas dtypes (a
    # nullable BIGINT pandas-coerces to float64 and would be
    # vacuity-checked as a measure while parity treats it as int)
    # DECIMAL included (r10 ADVICE): a DECIMAL-typed oracle measure is as
    # thresholdable as a DOUBLE one and must not silently skip the
    # vacuity gate.
    ddb_float_cols = [
        c
        for c, ty in zip(ddb_rel.columns, ddb_rel.types)
        if str(ty) in ("FLOAT", "DOUBLE") or str(ty).startswith("DECIMAL")
    ]
    _assert_not_vacuous(query_name, ddb_df, ddb_float_cols)
    ddb_cols = sorted(ddb_df.columns)
    assert spark_cols == ddb_cols, f"{query_name}: columns {spark_cols} != {ddb_cols}"
    # duplicate result-column names would resolve to the FIRST position
    # twice in the index map below — refuse them outright (r9 ADVICE fix)
    assert len(set(ddb_rel.columns)) == len(ddb_rel.columns), (
        f"{query_name}: duplicate oracle result columns {ddb_rel.columns}"
    )
    assert len(set(spark_df.columns)) == len(spark_df.columns), (
        f"{query_name}: duplicate Spark result columns {spark_df.columns}"
    )

    s_rows = sorted(
        (tuple(_canon(row[c]) for c in spark_cols) for row in spark_df.collect()),
        key=repr,
    )
    # Compare NATIVE DuckDB values (fetchall), not the pandas frame: pandas
    # coerces a nullable BIGINT column to float64 (NULL → NaN, 2^62 → a
    # float), which both mangles int-vs-float reprs and turns NULLs into
    # "NaN" — a harness artifact the r9 full-registry sweep hit on
    # scalar_try_arithmetic_battery's guarded_sum at sf0.01. fetchall
    # yields python ints / Decimals / datetimes / None exactly as DuckDB
    # computed them (the relation re-executes; it is lazy).
    order = [list(ddb_df.columns).index(c) for c in ddb_cols]
    d_rows = sorted(
        (tuple(_canon(row[i]) for i in order) for row in ddb_rel.fetchall()),
        key=repr,
    )
    assert len(s_rows) == len(d_rows), (
        f"{query_name}: row count {len(s_rows)} != {len(d_rows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
    ]
    assert not mismatches, f"{query_name}: first mismatches {mismatches[:5]}"
