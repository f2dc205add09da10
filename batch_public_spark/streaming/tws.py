"""transformWithState (arbitrary-state API v2) processors — import-gated.

Spark 4's ``transformWithStateInPandas`` supersedes
``applyInPandasWithState`` (streaming/ops.py uses the latter for the
running-max query): typed state variables (value/list/map) instead of one
opaque tuple, timers, TTL, and an initial-state hook. The Python worker
side of the API needs ``protobuf`` to serialize state requests, which
this container does not ship — so the SPARK WIRING is gated behind a
dependency probe (same honest-gating pattern as the multimodal codec
sites), while the PROCESSOR
LOGIC is plain Python, fully unit-tested against a state shim
(tests/test_tws.py).

On a cluster with protobuf installed, ``running_user_stats(stream_df)``
is a drop-in: per-user running (count, sum, max) maintained in a
ValueState, emitted per micro-batch in update mode.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double, max_value double"
STATE_SCHEMA = "n bigint, s double, mx double"


def tws_available() -> bool:
    """True when the transformWithState Python worker can run here."""
    try:  # pragma: no cover - environment probe
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def _make_processor():
    """Build the StatefulProcessor class lazily so importing this module
    never requires the streaming extras."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningUserStats(StatefulProcessor):
        """Per-key running (count, sum, max) in a single ValueState.

        The same fold as streaming/ops.py::running max via
        applyInPandasWithState, expressed in API v2: state is a typed
        row, not a pickled tuple, so the state store can evolve schema
        and apply TTL without user code."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator["pd.DataFrame"]:
            n, s, mx = fold_batches(
                self._state.get() if self._state.exists() else None, rows
            )
            self._state.update((n, s, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [s],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    return RunningUserStats


def fold_batches(prior, batches) -> tuple[int, float, float]:
    """The pure fold: merge prior (n, s, mx) state with an iterator of
    pandas batches carrying a ``value`` column. Separated from the
    processor so the logic is testable without a state store."""
    n, s, mx = (prior[0], prior[1], prior[2]) if prior is not None else (0, 0.0, None)
    for pdf in batches:
        vals = pdf["value"]
        if len(vals) == 0:
            continue
        n += int(len(vals))
        s += float(vals.sum())
        bmax = float(vals.max())
        mx = bmax if mx is None else max(mx, bmax)
    return n, s, mx


def running_user_stats(events_stream: DataFrame) -> DataFrame:
    """Keyed running stats over a streaming events frame via
    transformWithStateInPandas (update mode, processing-time semantics).

    Raises ImportError with remediation when the worker-side protobuf
    dependency is missing — callers on a provisioned cluster get the real
    operator, this container gets an honest failure instead of a stub."""
    if not tws_available():
        raise ImportError(
            "transformWithStateInPandas needs the 'protobuf' package on the "
            "Python workers (pip install protobuf); falling back to "
            "streaming.ops running-max (applyInPandasWithState) is the "
            "supported path in this environment"
        )
    spark = events_stream.sparkSession
    # RocksDB provider is required for state API v2.
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    proc = _make_processor()()
    return (
        events_stream.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
