"""Golden tests for the plain-``math`` Student-t kernels.

Published critical values (any statistics table) plus an independent
check of the CDF against high-resolution numerical integration of the
t probability density — no scipy needed.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from world_vaccination_coverage_etl_spark.functions.tdist import t_cdf, t_ppf, t_sf

# (q, df, expected) — standard two-sided critical values.
PUBLISHED_PPF = [
    (0.975, 1, 12.7062047364),
    (0.975, 2, 4.3026527297),
    (0.975, 4, 2.7764451052),
    (0.975, 10, 2.2281388520),
    (0.95, 10, 1.8124611228),
    (0.975, 30, 2.0422724563),
    (0.995, 20, 2.8453397098),
]


@pytest.mark.parametrize("q,df,expected", PUBLISHED_PPF)
def test_ppf_published_values(q, df, expected):
    assert t_ppf(q, df) == pytest.approx(expected, abs=1e-8)


def _t_pdf(x: np.ndarray, df: float) -> np.ndarray:
    c = math.exp(
        math.lgamma((df + 1) / 2) - math.lgamma(df / 2)
    ) / math.sqrt(df * math.pi)
    return c * (1 + x * x / df) ** (-(df + 1) / 2)


@pytest.mark.parametrize("df", [1.0, 2.5, 4.4117647, 10.0, 100.0])
@pytest.mark.parametrize("t", [-3.0, -1.0, 0.0, 0.5, 2.0])
def test_cdf_matches_numerical_integration(t, df):
    # integrate pdf from a far-left point to t; tail below -400 is
    # negligible for df >= 1 at the 1e-9 level except df=1 (heavy tail)
    lo = -4000.0
    xs = np.linspace(lo, t, 2_000_001)
    integral = np.trapz(_t_pdf(xs, df), xs)
    tail_correction = t_cdf(lo, df)  # analytic tail below lo (tiny)
    assert t_cdf(t, df) == pytest.approx(float(integral + tail_correction), abs=5e-7)


def test_cdf_ppf_roundtrip():
    dfs = np.array([1.0, 3.0, 7.5, 29.0, 120.0])
    qs = np.array([0.01, 0.25, 0.5, 0.9, 0.999])
    t = t_ppf(qs, dfs)
    assert np.allclose(t_cdf(t, dfs), qs, atol=1e-10)


def test_symmetry_and_edges():
    assert t_cdf(0.0, 7) == pytest.approx(0.5)
    assert t_sf(2.0, 9) == pytest.approx(1.0 - t_cdf(2.0, 9))
    assert float(t_ppf(0.5, 13)) == 0.0
    assert np.isnan(t_ppf(0.975, 0))
    assert np.isnan(t_cdf(1.0, np.nan))


def test_scalar_and_vector_sf_agree_on_both_branches():
    # the incomplete beta evaluates each element on only one continued-
    # fraction branch; a vector call must give what per-element scalar
    # calls give
    ts = np.array([-30.0, -4.0, -1.5, -0.2, 0.0, 0.3, 1.0, 2.2, 5.0, 30.0])
    dfs = np.array([0.5, 1.0, 2.0, 3.5, 9.0, 30.0, 200.0])
    tt, dd = (g.ravel() for g in np.meshgrid(ts, dfs))
    # I_x(df/2, 1/2) with x = df/(df+t^2) takes the direct branch iff
    # x < (a+1)/(a+b+2); the grid must exercise both
    a, x = dd / 2.0, dd / (dd + tt * tt)
    direct = x < (a + 1.0) / (a + 0.5 + 2.0)
    assert direct.any() and (~direct).any()
    vec = t_sf(tt, dd)
    for t, df, v in zip(tt, dd, vec):
        assert float(t_sf(float(t), float(df))) == pytest.approx(v, rel=1e-12)
