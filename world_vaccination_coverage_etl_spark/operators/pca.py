"""Distributed covariance of an embedding column, the data-parallel
half of PCA.

The covariance matrix needs a full pass over every vector, but the
result is only ``dim × dim`` (64×64 = 4096 entries here).  An Arrow
kernel folds each partition's batch into per-batch partial sums
(``nᵦ``, ``Σx``, ``Σx xᵀ`` — the same moment decomposition every
map-side-combine aggregate uses), emits them as (i, j, s_xx, s_x_i,
s_x_j, n) rows, and ONE tiny shuffle on the (i, j) key finishes the
reduction.  No vector ever crosses the network; traffic is
O(partitions · dim²).  The eigendecomposition that completes PCA is
model-sized driver math on that matrix; this module stops at the matrix.

``embedding_covariance_fixedpoint`` returns the full (i, j) matrix
(lower and upper halves) on an exact integer contract.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FP_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("s_xx", T.LongType()),
        T.StructField("s_x_i", T.LongType()),
        T.StructField("s_x_j", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

_FP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("s_x_i", T.LongType()),
        T.StructField("s_x_j", T.LongType()),
        T.StructField("s_xx", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("cov_micro", T.LongType()),
    ]
)


def embedding_covariance_fixedpoint(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64, scale: int = 1000
) -> DataFrame:
    """Covariance moments on a fixed-point integer contract — every
    output column is an exact integer, so the result is bit-identical
    under ANY partitioning, shuffle layout, or summation order.

    Float summation is not associative: ``Σxx/n − (Σx/n)²`` assembled
    from float partial sums can flip a 6-dp rounding boundary between
    runs (the round-7 driver-vs-local certification flake).  The fix is
    to make the certified math associative:

    1. quantize each value to ``q = floor(x·scale + 0.5)`` (int64) —
       float32→float64 is exact and the ``·scale, +0.5, floor`` chain is
       deterministic IEEE double math, so numpy and any SQL engine agree
       bit-for-bit;
    2. sum ``q``, ``q_i·q_j`` as LONGS — integer addition is associative,
       so partial sums merge exactly regardless of order (Spark ANSI
       mode errors loudly on overflow rather than wrapping);
    3. ``cov_micro = round_half_away(10⁶·(n·Σqq − Σq_iΣq_j)/(n²·scale²))``
       computed with arbitrary-precision Python ints over the dim²-row
       aggregate — exact rational rounding, no float anywhere.

    ``cov_micro`` is the population covariance of the scale-quantized
    values in micro-units (divide by 1e6 for the float view).
    """

    def moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(m * scale + 0.5).astype(np.int64)
            n = q.shape[0]
            s1 = q.sum(axis=0)
            s2 = q.T @ q
            ii, jj = np.meshgrid(range(dim), range(dim), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": ii.ravel().astype("int32"),
                    "j": jj.ravel().astype("int32"),
                    "s_xx": s2.ravel(),
                    "s_x_i": s1[ii.ravel()],
                    "s_x_j": s1[jj.ravel()],
                    "n": np.full(dim * dim, n, dtype="int64"),
                }
            )

    partial = df.select(vec_col).mapInPandas(moments, _FP_PARTIAL_SCHEMA)
    tot = partial.groupBy("i", "j").agg(
        F.sum("s_xx").alias("s_xx"),
        F.sum("s_x_i").alias("s_x_i"),
        F.sum("s_x_j").alias("s_x_j"),
        F.sum("n").alias("n"),
    )

    def finish(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # dim² model-sized rows; Python ints are arbitrary precision so
        # n·Σqq − Σq·Σq and the half-away rounding are exact at any n.
        for pdf in batches:
            if not len(pdf):
                continue
            micro = []
            for s_xx, s_x_i, s_x_j, n in zip(
                pdf["s_xx"], pdf["s_x_i"], pdf["s_x_j"], pdf["n"]
            ):
                num = 10**6 * (int(n) * int(s_xx) - int(s_x_i) * int(s_x_j))
                den = int(n) * int(n) * scale * scale
                if num >= 0:
                    micro.append((2 * num + den) // (2 * den))
                else:
                    micro.append(-((-2 * num + den) // (2 * den)))
            out = pdf[["i", "j", "s_x_i", "s_x_j", "s_xx", "n"]].copy()
            out["cov_micro"] = pd.Series(micro, index=pdf.index, dtype="int64")
            yield out

    return tot.mapInPandas(finish, _FP_OUT_SCHEMA)
