"""Distributed fixed-point covariance (operators/pca.py)."""

from __future__ import annotations

import numpy as np

from world_vaccination_coverage_etl_spark.operators.pca import (
    embedding_covariance_fixedpoint,
)


def _vec_df(spark, m):
    rows = [(i, [float(x) for x in m[i]]) for i in range(m.shape[0])]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_fixedpoint_matches_exact_python(spark):
    """cov_micro equals brute-force arbitrary-precision integer math."""
    rng = np.random.default_rng(7)
    m = rng.normal(size=(150, 4)).astype(np.float32)
    got = {
        (r.i, r.j): (r.s_x_i, r.s_x_j, r.s_xx, r.n, r.cov_micro)
        for r in embedding_covariance_fixedpoint(
            _vec_df(spark, m), dim=4, scale=1000
        ).collect()
    }
    q = np.floor(m.astype(np.float64) * 1000 + 0.5).astype(np.int64)
    n = q.shape[0]
    for i in range(4):
        for j in range(4):
            s_x_i = int(q[:, i].sum())
            s_x_j = int(q[:, j].sum())
            s_xx = int((q[:, i].astype(object) * q[:, j].astype(object)).sum())
            num = 10**6 * (n * s_xx - s_x_i * s_x_j)
            den = n * n * 1000 * 1000
            cm = (
                (2 * num + den) // (2 * den)
                if num >= 0
                else -((-2 * num + den) // (2 * den))
            )
            assert got[(i, j)] == (s_x_i, s_x_j, s_xx, n, cm)


def test_fixedpoint_partition_invariant_adversarial(spark):
    """Bit-identical across partitionings ON BOUNDARY-ADVERSARIAL data.

    The r7 flake was an order-dependent float sum flipping a 6-dp
    rounding boundary between the driver run and the local sweep.  This
    fixture plants values whose float covariance sits ON half-ulp
    rounding boundaries (x.5e-6 offsets) plus heavy cancellation (large
    mean, tiny variance) — the exact regime where float partial sums
    disagree by summation order — and asserts the integer contract is
    identical across 1/7/32 partitions AND a shuffled row order.
    """
    rng = np.random.default_rng(5)
    # large common mean (cancellation) + tiny jitter snapped to
    # quantization half-steps (boundary pressure at scale=1000)
    base = np.full((211, 4), 0.4375, dtype=np.float64)
    jitter = rng.integers(-3, 4, size=(211, 4)) * 0.0005  # half-step grid
    m = (base + jitter).astype(np.float32)
    variants = [
        _vec_df(spark, m).repartition(1),
        _vec_df(spark, m).repartition(7),
        _vec_df(spark, m).repartition(32),
        _vec_df(spark, m[rng.permutation(211)]).repartition(13),
    ]
    results = [
        sorted(
            tuple(r)
            for r in embedding_covariance_fixedpoint(v, dim=4).collect()
        )
        for v in variants
    ]
    assert results[0] == results[1] == results[2] == results[3]
