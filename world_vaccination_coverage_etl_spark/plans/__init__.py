from .pipeline import run_etl
from .analytics import (
    cached_dimension_index,
    coverage_series,
    antigens_for_country,
    invalidate_dimension_index,
    series_kpis,
    series_snapshot,
    window_compare,
)

__all__ = [
    "run_etl",
    "cached_dimension_index",
    "coverage_series",
    "antigens_for_country",
    "invalidate_dimension_index",
    "series_kpis",
    "series_snapshot",
    "window_compare",
]
