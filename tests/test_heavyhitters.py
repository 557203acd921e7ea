"""Misra–Gries heavy-hitter summary pins (operators/heavyhitters.py).

The driver fixtures are near-uniform, so the MG guarantees are
exercised here on a synthetic Zipf-skewed stream where they bite:
three hot keys far above the n/(k+1) bar over a long distinct tail.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from world_vaccination_coverage_etl_spark.operators.heavyhitters import (
    misra_gries_summary,
)

HOT = {"hot_a": 5000, "hot_b": 3000, "hot_c": 1500}
TAIL = 2000  # distinct singleton keys


@pytest.fixture(scope="module")
def skewed(spark):
    rows = [(k,) for k, c in HOT.items() for _ in range(c)]
    rows += [(f"tail{i}",) for i in range(TAIL)]
    # deterministic interleave so hot keys span every partition
    import hashlib

    rows.sort(key=lambda r: hashlib.md5(r[0].encode()).hexdigest()[:4])
    return spark.createDataFrame(rows, "key string").repartition(7)


def _exact(df):
    return {
        r["key"]: r["cnt"]
        for r in df.groupBy("key").agg(F.count("*").alias("cnt")).collect()
    }


def test_guarantee_heavy_keys_present(skewed):
    n = sum(HOT.values()) + TAIL
    k = 16
    assert all(c > n / (k + 1) for c in HOT.values())  # bar actually bites
    summ = {r["key"]: r["est"] for r in
            misra_gries_summary(skewed, "key", k=k).collect()}
    assert len(summ) <= k
    for key in HOT:
        assert key in summ


def test_bounds_hold_for_every_key(skewed):
    n = sum(HOT.values()) + TAIL
    k = 16
    exact = _exact(skewed)
    summ = {r["key"]: r["est"] for r in
            misra_gries_summary(skewed, "key", k=k).collect()}
    for key, cnt in exact.items():
        est = summ.get(key, 0)
        assert est <= cnt
        assert est >= cnt - n / (k + 1)


def test_partitioning_invariant_guarantees(skewed):
    n = sum(HOT.values()) + TAIL
    k = 16
    exact = _exact(skewed)
    for parts in (1, 13):
        summ = {r["key"]: r["est"] for r in
                misra_gries_summary(skewed.repartition(parts), "key", k=k)
                .collect()}
        assert len(summ) <= k
        for key in HOT:
            assert key in summ
        for key, est in summ.items():
            assert 0 < est <= exact[key]
            assert est >= exact[key] - n / (k + 1)


def test_exact_when_k_covers_cardinality(spark):
    rows = [(f"k{i % 5}",) for i in range(100)]
    df = spark.createDataFrame(rows, "key string").repartition(3)
    summ = {r["key"]: r["est"] for r in
            misra_gries_summary(df, "key", k=8).collect()}
    assert summ == _exact(df)  # no pruning ever triggers: est == exact


def test_nulls_dropped_and_k_validated(spark):
    df = spark.createDataFrame([("a",), (None,), ("a",)], "key string")
    summ = misra_gries_summary(df, "key", k=4).collect()
    assert {r["key"]: r["est"] for r in summ} == {"a": 2}
    with pytest.raises(ValueError):
        misra_gries_summary(df, "key", k=0)
