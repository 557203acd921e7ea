"""Student-t distribution kernels in pure numpy.

The reference leans on scipy (``scipy.stats.t.ppf`` for CI half-widths,
``scipy.stats.ttest_ind`` for Welch p-values — reference
etl_pipeline.py:37-43,136-139).  scipy is not available here, so the
t CDF is computed from the regularized incomplete beta function
(continued-fraction expansion, Numerical Recipes-style modified Lentz
method — a classic public algorithm) and the quantile by bisection on
the CDF.  Vectorized over numpy arrays; accurate to ~1e-12 which is far
beyond the 1e-6 the oracle comparisons round to.

These kernels only ever run on O(groups) aggregated rows (inside a
pandas UDF or driver-side), never on raw data — that is what keeps the
statistics valid at 100 TB: the heavy lifting (sums, counts, variances)
is distributed JVM-side aggregation.
"""

from __future__ import annotations

import math

import numpy as np

_lgamma = np.vectorize(math.lgamma, otypes=[np.float64])

_EPS = 3.0e-16
_FPMIN = 1.0e-300
_MAX_ITER = 300


def _betacf(a: np.ndarray, b: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Continued fraction for the incomplete beta (modified Lentz)."""
    qab = a + b
    qap = a + 1.0
    qam = a - 1.0
    c = np.ones_like(x)
    d = 1.0 - qab * x / qap
    d = np.where(np.abs(d) < _FPMIN, _FPMIN, d)
    d = 1.0 / d
    h = d.copy()
    for m in range(1, _MAX_ITER + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < _FPMIN, _FPMIN, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < _FPMIN, _FPMIN, c)
        d = 1.0 / d
        h = h * d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < _FPMIN, _FPMIN, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < _FPMIN, _FPMIN, c)
        d = 1.0 / d
        delta = d * c
        h = h * delta
        if np.all(np.abs(delta - 1.0) < _EPS):
            break
    return h


def betainc_reg(a, b, x):
    """Regularized incomplete beta I_x(a, b), vectorized."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    a, b, x = np.broadcast_arrays(a, b, x)

    ln_beta = _lgamma(a + b) - _lgamma(a) - _lgamma(b)
    # front factor x^a (1-x)^b / (a * B(a,b)); guard log(0)
    with np.errstate(divide="ignore", invalid="ignore"):
        front = np.exp(ln_beta + a * np.log(x) + b * np.log1p(-x))

    # each element runs the continued fraction once, on its own branch:
    # the direct expansion, or the symmetric region via
    # I_x(a,b) = 1 - I_{1-x}(b,a); an empty branch is skipped
    direct = x < (a + 1.0) / (a + b + 2.0)
    sym = ~direct
    out = np.empty(x.shape, dtype=np.float64)
    if direct.any():
        out[direct] = (
            front[direct] / a[direct] * _betacf(a[direct], b[direct], x[direct])
        )
    if sym.any():
        out[sym] = 1.0 - front[sym] / b[sym] * _betacf(b[sym], a[sym], 1.0 - x[sym])

    out = np.where(x <= 0.0, 0.0, out)
    out = np.where(x >= 1.0, 1.0, out)
    return out


def t_cdf(t, df):
    """CDF of Student's t with ``df`` degrees of freedom, vectorized.

    P(T <= t) = 1 - 0.5 * I_{df/(df+t^2)}(df/2, 1/2)  for t >= 0,
    with symmetry for t < 0.
    """
    t = np.asarray(t, dtype=np.float64)
    df = np.asarray(df, dtype=np.float64)
    t, df = np.broadcast_arrays(t, df)
    bad = np.isnan(t) | np.isnan(df) | (df <= 0)
    t_safe = np.where(bad, 0.0, t)
    df_safe = np.where(bad, 1.0, df)
    x = df_safe / (df_safe + t_safe * t_safe)
    tail = 0.5 * betainc_reg(df_safe / 2.0, 0.5, x)
    out = np.where(t_safe >= 0.0, 1.0 - tail, tail)
    return np.where(bad, np.nan, out)


def t_sf(t, df):
    """Survival function P(T > t)."""
    return 1.0 - t_cdf(t, df)


# Acklam's rational approximation to the standard-normal quantile
# (public-domain classic; |relative error| < 1.15e-9 — only used to seed
# Newton, which converges to ~1e-15 regardless).
_ACK_A = (-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
          1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
_ACK_B = (-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
          6.680131188771972e+01, -1.328068155288572e+01)
_ACK_C = (-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
          -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
_ACK_D = (7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
          3.754408661907416e+00)


def _norm_ppf(q: np.ndarray) -> np.ndarray:
    """Standard-normal quantile (Acklam), vectorized; q in (0, 1)."""
    a, b, c, d = _ACK_A, _ACK_B, _ACK_C, _ACK_D
    q = np.asarray(q, dtype=np.float64)
    out = np.empty_like(q)
    lo_r, hi_r = 0.02425, 1.0 - 0.02425

    lower = q < lo_r
    upper = q > hi_r
    central = ~lower & ~upper

    qc = np.where(central, q, 0.5)
    r = (qc - 0.5) ** 2
    num = ((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]
    den = (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r) + 1.0
    out = np.where(central, (qc - 0.5) * num / den, 0.0)

    qt = np.where(lower, q, np.where(upper, 1.0 - q, 0.25))
    s = np.sqrt(-2.0 * np.log(qt))
    num_t = ((((c[0] * s + c[1]) * s + c[2]) * s + c[3]) * s + c[4]) * s + c[5]
    den_t = ((((d[0] * s + d[1]) * s + d[2]) * s + d[3]) * s) + 1.0
    tail = num_t / den_t
    out = np.where(lower, tail, out)
    out = np.where(upper, -tail, out)
    return out


def _betainc_inv(a, b, p, max_iter: int = 12):
    """Inverse of the regularized incomplete beta (classic Numerical
    Recipes ``invbetai`` scheme — public algorithm): closed-form initial
    guess, then Halley iteration on ``betainc_reg``; a dozen iterations
    reach machine precision for all (a, b) > 0.  Vectorized."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    p = np.asarray(p, dtype=np.float64)
    a, b, p = np.broadcast_arrays(a, b, p)
    a1, b1 = a - 1.0, b - 1.0

    # initial guess, two regimes
    both_big = (a >= 1.0) & (b >= 1.0)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        # regime 1 (a,b >= 1): normal-quantile mapping (AS 109 style)
        z = _norm_ppf(np.clip(p, 1e-300, 1.0 - 1e-16))
        al = (z * z - 3.0) / 6.0
        h = 2.0 / (1.0 / (2.0 * a - 1.0) + 1.0 / (2.0 * b - 1.0))
        w = z * np.sqrt(al + h) / h - (
            1.0 / (2.0 * b - 1.0) - 1.0 / (2.0 * a - 1.0)
        ) * (al + 5.0 / 6.0 - 2.0 / (3.0 * h))
        x_big = a / (a + b * np.exp(2.0 * w))
        # regime 2: power-function tails
        lna = np.log(a / (a + b))
        lnb = np.log(b / (a + b))
        t = np.exp(a * lna) / a
        u = np.exp(b * lnb) / b
        w2 = t + u
        x_small = np.where(
            p < t / w2,
            (a * w2 * p) ** (1.0 / a),
            1.0 - (b * w2 * (1.0 - p)) ** (1.0 / b),
        )
    x = np.where(both_big, x_big, x_small)
    x = np.clip(x, 1e-300, 1.0 - 1e-16)

    afac = _lgamma(a + b) - _lgamma(a) - _lgamma(b)
    for _ in range(max_iter):
        err = betainc_reg(a, b, x) - p
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            dens = np.exp(a1 * np.log(x) + b1 * np.log1p(-x) + afac)
            u = np.where(dens > 0, err / dens, 0.0)
            # Halley correction factor
            corr = np.clip(u * (a1 / x - b1 / (1.0 - x)), None, 1.0)
            step = u / (1.0 - 0.5 * corr)
        xn = x - step
        # clamp back into (0, 1) by halving toward the violated bound
        xn = np.where(xn <= 0.0, 0.5 * x, xn)
        xn = np.where(xn >= 1.0, 0.5 * (x + 1.0), xn)
        done = np.all(np.abs(xn - x) <= 1e-14 * np.maximum(xn, 1e-300))
        x = xn
        if done:
            break
    x = np.where(p <= 0.0, 0.0, x)
    x = np.where(p >= 1.0, 1.0, x)
    return x


def t_ppf(q, df):
    """Quantile (inverse CDF) of Student's t via the inverse incomplete
    beta, vectorized.

    ``tail = 2·min(q, 1−q) = I_x(df/2, 1/2)`` with ``x = df/(df+t²)``,
    so ``t = ±sqrt(df·(1−x)/x)`` with the inverse beta solved by Halley
    iteration (``_betainc_inv``) — ~12 ``betainc_reg`` evaluations vs
    the 200 of the former pure bisection, at machine precision for every
    df > 0 (heavy-tailed df < 1 included, where naive Newton on the CDF
    diverges).  Tests pin 1e-9 agreement against scipy goldens.
    """
    q = np.asarray(q, dtype=np.float64)
    df = np.asarray(df, dtype=np.float64)
    q, df = np.broadcast_arrays(q, df)
    bad = np.isnan(q) | np.isnan(df) | (df <= 0) | (q <= 0) | (q >= 1)
    q_safe = np.where(bad, 0.5, q)
    df_safe = np.where(bad, 1.0, df)

    tail = 2.0 * np.minimum(q_safe, 1.0 - q_safe)
    x = _betainc_inv(df_safe / 2.0, 0.5, tail)
    with np.errstate(divide="ignore", invalid="ignore"):
        mag = np.sqrt(df_safe * (1.0 - x) / x)
    out = np.where(q_safe < 0.5, -mag, mag)
    out = np.where(q_safe == 0.5, 0.0, out)
    return np.where(bad, np.nan, out)
