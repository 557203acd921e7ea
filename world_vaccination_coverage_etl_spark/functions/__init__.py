from .tdist import t_ppf, t_sf
from .stats import (
    welch_t_columns,
    mean_ci_columns,
    two_sided_p_udf,
)
from .flags import country_flag_udf

__all__ = [
    "t_ppf",
    "t_sf",
    "welch_t_columns",
    "mean_ci_columns",
    "two_sided_p_udf",
    "country_flag_udf",
]
