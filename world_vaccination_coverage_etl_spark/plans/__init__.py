from .pipeline import (
    SchemaDriftError,
    discover_coverage_columns,
    melt_wide_to_tidy,
    clean_immunization,
    run_etl,
    assert_unique_key,
)
from .analytics import (
    cached_dimension_index,
    coverage_series,
    dimension_index,
    antigens_for_country,
    invalidate_dimension_index,
    series_kpis,
    series_snapshot,
    window_compare,
)

__all__ = [
    "SchemaDriftError",
    "discover_coverage_columns",
    "melt_wide_to_tidy",
    "clean_immunization",
    "run_etl",
    "assert_unique_key",
    "cached_dimension_index",
    "coverage_series",
    "dimension_index",
    "antigens_for_country",
    "invalidate_dimension_index",
    "series_kpis",
    "series_snapshot",
    "window_compare",
]
