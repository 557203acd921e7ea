"""The page tests of test_serve.py on the Spark serving path: the path
a ``DashboardApp`` takes for a table above ``SNAPSHOT_MAX_ROWS`` rows
(forced here with a limit of 0), where ``GET /`` reads
``cached_dimension_index`` and each dashboard request collects
``coverage_series`` under the app lock.  test_serve.py runs the same
tests on the snapshot path; importing them here collects them again
against this module's ``served`` fixture."""

from __future__ import annotations

import pytest
from test_serve import (  # noqa: F401  (collected again with this module's `served`)
    _serving,
    clean,
    test_dashboard_kpis_equal_window_compare,
    test_dashboard_missing_series_404,
    test_dashboard_params_change_result,
    test_dashboard_rejects_out_of_range_window,
    test_dashboard_requires_params,
    test_dashboard_runs_parameterized_query,
    test_index_lists_dimension_pairs,
)

from world_vaccination_coverage_etl_spark.plans import analytics
from world_vaccination_coverage_etl_spark.serve import DashboardApp


@pytest.fixture(scope="module")
def served(spark, clean):  # noqa: F811  (overrides test_serve's snapshot-path fixture)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(analytics, "SNAPSHOT_MAX_ROWS", 0)
        app = DashboardApp(spark, clean)
    assert app._snapshot is None
    with _serving(app) as base:
        yield base
