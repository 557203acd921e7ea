"""Aggregates-first statistics: Welch t-test and mean-CI as Spark plans.

Design (SURVEY.md §7.1): every statistic is computed from built-in
distributed aggregates (``avg``, ``var_samp``, ``stddev_samp``,
``count``) plus closed-form column math — JVM-side, codegen'd,
shuffle-once.  Only the t-distribution evaluations (quantile for CI
half-widths, CDF for p-values) leave the JVM, as Arrow-batched pandas
UDFs applied to the already-aggregated (one row per group) frame.  That
keeps Python work at O(groups) regardless of input scale.

``series_window_stats`` is the one-series form of the same block: the
dashboard and the CLI already hold the ≤121-row series (one row per
year of the clean table's [1980, 2100] clamp), so they compute the
window statistics in-process from those rows instead of running a
Spark job (the reference does the same — streamlit_app.py:317-342).

Reference semantics preserved exactly (SURVEY.md §4):
- CI is (NaN, NaN) when n < 2 (reference etl_pipeline.py:38-39);
- Welch t-test gated on n > 1 in both windows (etl_pipeline.py:136);
- significance flag is ``p < 0.05`` (streamlit_app.py:331-342).
"""

from __future__ import annotations

import functools
import math
import statistics
from collections.abc import Iterable

import pandas as pd

from pyspark.sql import Column, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tdist import t_ppf, t_sf


@F.pandas_udf(T.DoubleType())
def two_sided_p_udf(t_stat: pd.Series, dof: pd.Series) -> pd.Series:
    """Two-sided Welch p-value: 2 * P(T_df > |t|).  Arrow-batched; the
    scalar ``t_sf`` kernel runs once per row (one row per group)."""
    import numpy as np

    t = np.abs(t_stat.to_numpy(dtype="float64"))
    return pd.Series(np.clip(2.0 * t_sf(t, dof.to_numpy(dtype="float64")), 0.0, 1.0))


@F.pandas_udf(T.DoubleType())
def t_crit_udf(conf: pd.Series, dof: pd.Series) -> pd.Series:
    """Two-sided t critical value t_{(1+conf)/2, df}.  Arrow-batched;
    each distinct (conf, df) runs ``t_ppf`` once (``_t_crit``)."""
    pairs = zip(conf.to_numpy(dtype="float64").tolist(), dof.to_numpy(dtype="float64").tolist())
    return pd.Series([_t_crit(c, d) for c, d in pairs], dtype="float64")


@F.pandas_udf(T.DoubleType())
def normal_two_sided_p_udf(t_stat: pd.Series) -> pd.Series:
    """Two-sided NORMAL-approximation p-value 2·(1−Φ(|t|)) = erfc(|t|/√2).

    Not a statistic of its own here — it is the oracle-reproducible
    bracket for the exact t p-value: for every df > 0,
    0 ≤ p_t − p_normal ≤ 3/df (validated numerically against the tdist
    kernel over t∈[0,50], df∈{5..3000}; the true sup is ≲0.32/df).  The
    certified ``agg_welch_pvalue`` query emits boolean gates built on
    this bracket instead of the raw t-CDF value.
    """
    import math

    import numpy as np

    t = np.abs(t_stat.to_numpy(dtype="float64"))
    erf = np.vectorize(math.erf, otypes=[np.float64])
    p = 1.0 - erf(t / math.sqrt(2.0))
    return pd.Series(np.where(np.isnan(t), np.nan, np.clip(p, 0.0, 1.0)))


def welch_t_columns(
    mean_a: Column,
    var_a: Column,
    n_a: Column,
    mean_b: Column,
    var_b: Column,
    n_b: Column,
) -> tuple[Column, Column]:
    """Closed-form Welch t statistic and Welch–Satterthwaite df.

    Pure column arithmetic over per-window aggregates; NULL when either
    window has n <= 1 (the reference's gating, etl_pipeline.py:136).
    Equivalent to ``scipy.stats.ttest_ind(..., equal_var=False)``.
    """
    se2_a = var_a / n_a
    se2_b = var_b / n_b
    denom = F.sqrt(se2_a + se2_b)
    # try_divide: a constant series (zero variance in both windows) must
    # yield NULL like scipy's NaN, not an ANSI DIVIDE_BY_ZERO abort —
    # Spark 4 runs ANSI-on by default.
    t_stat = F.try_divide(mean_a - mean_b, denom)
    dof = F.try_divide(
        (se2_a + se2_b) ** 2,
        F.try_divide(se2_a**2, (n_a - 1)) + F.try_divide(se2_b**2, (n_b - 1)),
    )
    gate = (n_a > 1) & (n_b > 1)
    return (
        F.when(gate, t_stat),
        F.when(gate, dof),
    )


def mean_ci_columns(
    mean: Column, stddev: Column, n: Column, conf: float = 0.95
) -> tuple[Column, Column]:
    """95% (default) CI bounds for a sample mean: mean ± SEM · t_crit.

    Mirrors the reference ``mean_ci`` kernel (etl_pipeline.py:37-43):
    returns NULL bounds when n < 2.  The t quantile is evaluated by
    ``t_crit_udf`` on the aggregated rows.
    """
    sem = stddev / F.sqrt(n)
    crit = t_crit_udf(F.lit(float(conf)), (n - 1).cast("double"))
    half = F.when(n >= 2, sem * crit)
    return (mean - half, mean + half)


@functools.lru_cache(maxsize=1024)
def _t_crit(conf: float, dof: float) -> float:
    """Two-sided t critical value t_{(1+conf)/2, dof} as a float.

    Memoized: ``series_window_stats`` asks for it twice per call and
    ``t_crit_udf`` once per row, and the dof are integers n - 1 that
    repeat, while one ``t_ppf`` evaluation runs up to a dozen Halley
    iterations, each a full incomplete-beta continued fraction."""
    return float(t_ppf((1.0 + conf) / 2.0, dof))


def _variance(xs: list[float], mean: float) -> float:
    """Sample variance about ``mean`` (two-pass, float).

    A constant window has exactly zero variance, as under Spark's
    ``var_samp``: the rounded mean can sit an ulp off the common value
    (``fmean([88.1] * 3)`` is 88.09999999999998), which would give a
    variance of ~1e-28 and a non-NULL t."""
    if min(xs) == max(xs):
        return 0.0
    return math.fsum((x - mean) ** 2 for x in xs) / (len(xs) - 1)


def series_window_stats(
    rows: Iterable[tuple[int, float | None]],
    start_year: int,
    pre_years: int = 5,
    post_years: int = 5,
    conf: float = 0.95,
) -> Row:
    """``window_compare``'s statistics for one collected series.

    ``rows`` are the ``(year, coverage_pct)`` pairs of one series.
    Returns a ``Row`` with ``window_compare``'s fields minus the group
    keys, under the same windows, kernels and NULL gating: CI bounds
    NULL at n < 2, Welch t/df/p NULL unless both windows have n > 1,
    and NULL where ``try_divide`` would divide by zero (both windows
    constant).
    """
    before: list[float] = []
    after: list[float] = []
    for year, value in rows:
        if value is None:
            continue
        if start_year - pre_years <= year <= start_year - 1:
            before.append(float(value))
        elif start_year <= year <= start_year + post_years:
            after.append(float(value))
    n_b, n_a = len(before), len(after)
    avg_b = statistics.fmean(before) if n_b else None
    avg_a = statistics.fmean(after) if n_a else None
    var_b = _variance(before, avg_b) if n_b > 1 else None
    var_a = _variance(after, avg_a) if n_a > 1 else None
    sd_b = math.sqrt(var_b) if var_b is not None else None
    sd_a = math.sqrt(var_a) if var_a is not None else None

    def ci(mean, sd, n):
        if n < 2:
            return None, None
        half = sd / math.sqrt(n) * _t_crit(conf, n - 1.0)
        return mean - half, mean + half

    t_stat = dof = p_value = None
    if n_b > 1 and n_a > 1:
        se2_b, se2_a = var_b / n_b, var_a / n_a
        se2 = se2_b + se2_a
        if se2 != 0.0:
            t_stat = (avg_b - avg_a) / math.sqrt(se2)
            dof = se2**2 / (se2_b**2 / (n_b - 1) + se2_a**2 / (n_a - 1))
            p_value = min(max(2.0 * float(t_sf(abs(t_stat), dof)), 0.0), 1.0)
    diff_pp = avg_a - avg_b if n_a and n_b else None
    if p_value is None:
        significance = "insufficient-data"
    elif p_value < 0.05 and diff_pp > 0:
        significance = "significant-increase"
    elif p_value < 0.05 and diff_pp < 0:
        significance = "significant-decrease"
    else:
        significance = "inconclusive"
    ci_lo_b, ci_hi_b = ci(avg_b, sd_b, n_b)
    ci_lo_a, ci_hi_a = ci(avg_a, sd_a, n_a)
    return Row(
        avg_before=avg_b, avg_after=avg_a,
        var_before=var_b, var_after=var_a,
        sd_before=sd_b, sd_after=sd_a,
        n_before=n_b, n_after=n_a,
        diff_pp=diff_pp, t_stat=t_stat, dof=dof,
        ci_lo_before=ci_lo_b, ci_hi_before=ci_hi_b,
        ci_lo_after=ci_lo_a, ci_hi_after=ci_hi_a,
        p_value=p_value, significance=significance,
    )
