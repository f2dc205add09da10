"""Cross-checks between the event builders of plans.analytics_queries
that share a helper: where two builders compute the same quantity, their
outputs must agree."""

from __future__ import annotations

from batch_public_spark.plans import QUERIES
from tests.conftest import SF_DIR


def _rows(spark, name):
    return QUERIES[name].fn(spark, SF_DIR).collect()


def test_forecast_backtest_scores_every_holt_forecast_but_the_last(spark):
    """The backtest scores the forecast issued on each Holt day against
    the next day's count, so it has one forecast per Holt row except the
    last day's, whose target is not observed."""
    (bt,) = _rows(spark, "events_forecast_backtest")
    holt = _rows(spark, "events_holt_linear")
    assert len(holt) > 1
    assert bt.n_forecasts == len(holt) - 1
