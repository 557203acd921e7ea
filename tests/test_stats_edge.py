"""Statistical-kernel edge cases.

Regression (ADVICE r1): a constant series (zero variance in both
windows) must yield NULL t/dof like scipy's NaN — not abort the job
with an ANSI DIVIDE_BY_ZERO under Spark 4's ANSI mode.  The in-process
``series_window_stats`` must do the same, and the scalar Student-t
kernels must answer as their array form does; those tests run without
Spark.
"""

from __future__ import annotations

import math
import random
import statistics

import numpy as np
import pytest
from pyspark.sql import functions as F

from world_vaccination_coverage_etl_spark.functions.stats import (
    mean_ci_columns,
    series_window_stats,
    welch_t_columns,
)
from world_vaccination_coverage_etl_spark.functions.tdist import t_cdf, t_ppf, t_sf


def _agg(spark, values_a, values_b):
    rows = [("a", float(v)) for v in values_a] + [("b", float(v)) for v in values_b]
    df = spark.createDataFrame(rows, "w string, v double")
    return df.groupBy().agg(
        F.avg(F.when(F.col("w") == "a", F.col("v"))).alias("mean_a"),
        F.var_samp(F.when(F.col("w") == "a", F.col("v"))).alias("var_a"),
        F.count(F.when(F.col("w") == "a", F.col("v"))).alias("n_a"),
        F.avg(F.when(F.col("w") == "b", F.col("v"))).alias("mean_b"),
        F.var_samp(F.when(F.col("w") == "b", F.col("v"))).alias("var_b"),
        F.count(F.when(F.col("w") == "b", F.col("v"))).alias("n_b"),
    )


def _welch(spark, a, b):
    agg = _agg(spark, a, b)
    t, dof = welch_t_columns(
        F.col("mean_a"), F.col("var_a"), F.col("n_a"),
        F.col("mean_b"), F.col("var_b"), F.col("n_b"),
    )
    return agg.select(t.alias("t"), dof.alias("dof")).first()


def test_welch_constant_series_null_not_crash(spark):
    row = _welch(spark, [99.0, 99.0, 99.0], [99.0, 99.0, 99.0])
    assert row.t is None and row.dof is None


def test_welch_single_sample_gated(spark):
    row = _welch(spark, [1.0], [2.0, 3.0, 4.0])
    assert row.t is None and row.dof is None


def test_welch_matches_scipy_closed_form(spark):
    a, b = [1.0, 2.0, 3.0, 4.0], [2.0, 4.0, 6.0, 8.0, 10.0]
    row = _welch(spark, a, b)
    # reference values: scipy.stats.ttest_ind(a, b, equal_var=False)
    # gives t = -2.2514363, Welch–Satterthwaite dof = 5.5207877
    assert abs(row.t - (-2.2514363231593695)) < 1e-9
    assert abs(row.dof - 5.520787746170677) < 1e-9


def test_mean_ci_n1_is_null(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    agg = df.groupBy().agg(
        F.avg("v").alias("m"), F.stddev_samp("v").alias("s"), F.count("*").alias("n")
    )
    lo, hi = mean_ci_columns(F.col("m"), F.col("s"), F.col("n"))
    row = agg.select(lo.alias("lo"), hi.alias("hi")).first()
    assert row.lo is None and row.hi is None


def test_normal_p_brackets_t_p_kernelwise():
    """The certified-query gate rests on 0 <= p_t - p_normal <= 3/df
    (df >= 5): re-assert it directly against the kernels."""
    t = np.linspace(0.0, 40.0, 2001)
    erf = np.vectorize(math.erf, otypes=[np.float64])
    p_normal = 1.0 - erf(t / math.sqrt(2.0))
    for df in (5.0, 12.0, 47.0, 300.0, 2999.0):
        p_t = 2.0 * t_sf(t, np.full_like(t, df))
        gap = p_t - p_normal
        assert gap.min() >= -1e-12
        assert gap.max() <= 3.0 / df


def test_t_crit_z_bracket_kernelwise():
    """CI gate bound: z <= t_crit(0.975, df) <= z + 5/df for df >= 5."""
    z = 1.9599639845400545
    df = np.array([5.0, 9.0, 29.0, 100.0, 999.0, 29999.0])
    tc = t_ppf(np.full_like(df, 0.975), df)
    assert (tc >= z).all()
    assert (tc <= z + 5.0 / df).all()


@pytest.mark.parametrize("value", [88.1, 0.1])
@pytest.mark.parametrize("n", [3, 6])
def test_constant_windows_have_zero_variance(value, n):
    """fmean([88.1] * 3) is 88.09999999999998: a variance taken about
    that mean would be ~1e-28 and give a constant series a t statistic,
    where Spark's var_samp gives 0 and a NULL t."""
    rows = [(2017 - n + i, value) for i in range(2 * n)]
    got = series_window_stats(rows, 2017, n, n - 1)
    assert (got.n_before, got.n_after) == (n, n)
    assert got.var_before == 0.0 and got.var_after == 0.0
    assert got.sd_before == 0.0 and got.sd_after == 0.0
    assert got.t_stat is None and got.dof is None and got.p_value is None
    assert got.significance == "insufficient-data"


def test_window_variance_matches_exact_variance():
    rng = random.Random(11)
    for _ in range(200):
        n = rng.randint(2, 12)
        rows = [(2010 + i, round(rng.uniform(0.0, 100.0), rng.randint(0, 3))) for i in range(n)]
        got = series_window_stats(rows, 2010 + n, n, 0)
        want = statistics.variance([v for _, v in rows])
        assert got.var_before == pytest.approx(want, rel=1e-12, abs=1e-12), rows


def test_t_ppf_scalar_and_array_agree():
    qs = np.array([1e-9, 0.001, 0.025, 0.2, 0.4999, 0.5, 0.6, 0.95, 0.975, 0.999999])
    dfs = np.array([0.05, 0.3, 0.5, 0.99, 1.0, 2.0, 4.4, 29.0, 300.0, 1e5])
    qq, dd = np.meshgrid(qs, dfs)
    vec = t_ppf(qq, dd)
    assert vec.shape == qq.shape and vec.dtype == np.float64
    for q, df, v in zip(qq.ravel(), dd.ravel(), vec.ravel()):
        s = t_ppf(float(q), float(df))
        assert isinstance(s, float) and np.isfinite(s)
        assert s == pytest.approx(v, rel=1e-12), (q, df)


@pytest.mark.parametrize("fn", [t_cdf, t_sf, t_ppf])
@pytest.mark.parametrize(
    "x,df",
    [(0.9, 0.0), (0.9, -2.0), (0.9, math.nan), (math.nan, 5.0), (math.nan, math.nan)],
)
def test_scalar_kernels_nan_where_undefined(fn, x, df):
    assert math.isnan(fn(x, df))
    assert np.isnan(fn(np.array([x, 0.9]), np.array([df, 5.0]))).tolist() == [True, False]


@pytest.mark.parametrize("q", [0.0, 1.0, -0.5, 1.5, math.inf])
def test_t_ppf_nan_outside_unit_interval(q):
    assert math.isnan(t_ppf(q, 5.0))
    assert np.isnan(t_ppf(np.array([q, 0.9]), 5.0)).tolist() == [True, False]
