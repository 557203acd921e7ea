"""Analytics-plan tests: Welch/CI semantics against hand-computed goldens."""

from __future__ import annotations

import math

import pytest

from world_vaccination_coverage_etl_spark.functions.stats import _t_crit, series_window_stats
from world_vaccination_coverage_etl_spark.functions.tdist import t_ppf
from world_vaccination_coverage_etl_spark.plans import analytics
from world_vaccination_coverage_etl_spark.plans.analytics import (
    antigens_for_country,
    cached_dimension_index,
    coverage_series,
    dimension_index,
    invalidate_dimension_index,
    series_kpis,
    series_snapshot,
    window_compare,
)


@pytest.fixture(scope="module")
def fact(spark):
    rows = []
    # long series: linear-ish before 2017, jump after
    for year in range(2010, 2023):
        val = 50.0 + (year - 2010) + (15.0 if year >= 2017 else 0.0)
        rows.append(("Aland", "coverage__bcg", year, val))
    # short series (n=1): t-test must gate to NULL
    rows.append(("Borland", "coverage__bcg", 2016, 80.0))
    # second antigen for membership filter
    rows.append(("Aland", "coverage__mcv1", 2015, 66.0))
    return spark.createDataFrame(
        rows, schema="country string, antigen string, year int, coverage_pct double"
    )


def test_dimension_index(fact):
    idx = dimension_index(fact).collect()
    assert [(r.country, r.antigen) for r in idx] == [
        ("Aland", "coverage__bcg"),
        ("Aland", "coverage__mcv1"),
        ("Borland", "coverage__bcg"),
    ]


def test_cached_dimension_index_hits_and_invalidates(fact):
    invalidate_dimension_index()
    first = cached_dimension_index(fact)
    first.count()  # materialize into the cache
    assert first.storageLevel.useMemory, "index must be Spark-cached"
    # second call for the same fact plan returns the memo
    second = cached_dimension_index(fact)
    assert second is first
    assert second.collect() == dimension_index(fact).collect()
    # refresh invalidates: new object, previous one unpersisted
    invalidate_dimension_index()
    assert not first.storageLevel.useMemory
    third = cached_dimension_index(fact)
    assert third is not first


def test_antigens_for_country(fact):
    got = [r.antigen for r in antigens_for_country(fact, "Aland").collect()]
    assert got == ["coverage__bcg", "coverage__mcv1"]


def test_coverage_series_ordered(fact):
    s = coverage_series(fact, "Aland", "coverage__bcg").collect()
    assert [r.year for r in s] == list(range(2010, 2023))
    assert s[0].coverage_pct == 50.0


def test_series_kpis(fact):
    kpis = {
        (r.country, r.antigen): r
        for r in series_kpis(fact).collect()
    }
    k = kpis[("Aland", "coverage__bcg")]
    assert (k.first_year, k.last_year, k.n_obs) == (2010, 2022, 13)
    assert k.earliest_coverage == 50.0
    assert k.latest_coverage == 77.0
    assert k.delta_pp == 27.0
    k1 = kpis[("Borland", "coverage__bcg")]
    assert k1.n_obs == 1 and k1.delta_pp == 0.0


def _welch_golden(before, after):
    m1 = sum(before) / len(before)
    m2 = sum(after) / len(after)
    v1 = sum((x - m1) ** 2 for x in before) / (len(before) - 1)
    v2 = sum((x - m2) ** 2 for x in after) / (len(after) - 1)
    se2 = v1 / len(before) + v2 / len(after)
    t = (m1 - m2) / math.sqrt(se2)
    df = se2**2 / (
        (v1 / len(before)) ** 2 / (len(before) - 1)
        + (v2 / len(after)) ** 2 / (len(after) - 1)
    )
    return m1, m2, t, df


def test_window_compare_welch_golden(fact):
    out = {
        (r.country, r.antigen): r
        for r in window_compare(fact, start_year=2017, pre_years=5, post_years=5).collect()
    }
    r = out[("Aland", "coverage__bcg")]
    before = [50.0 + (y - 2010) for y in range(2012, 2017)]
    after = [50.0 + (y - 2010) + 15.0 for y in range(2017, 2023)]
    m1, m2, t, df = _welch_golden(before, after)
    assert r.avg_before == pytest.approx(m1)
    assert r.avg_after == pytest.approx(m2)
    assert r.diff_pp == pytest.approx(m2 - m1)
    assert r.t_stat == pytest.approx(t, rel=1e-9)
    assert r.dof == pytest.approx(df, rel=1e-9)
    assert 0.0 <= r.p_value <= 1.0
    assert r.significance == "significant-increase"
    # CI bounds bracket the mean and are symmetric around it
    assert r.ci_lo_before < m1 < r.ci_hi_before
    assert (m1 - r.ci_lo_before) == pytest.approx(r.ci_hi_before - m1, rel=1e-9)


def test_window_compare_gates_small_n(fact):
    out = {
        (r.country, r.antigen): r
        for r in window_compare(fact, start_year=2017).collect()
    }
    r = out[("Borland", "coverage__bcg")]  # single obs, before window only
    assert r.n_before == 1 and r.n_after == 0
    assert r.t_stat is None and r.p_value is None
    assert r.ci_lo_before is None  # n<2 -> NaN CI per reference semantics
    assert r.significance == "insufficient-data"


# (start_year, pre_years, post_years): the usual block, short windows,
# n = 1 on one side, an empty before window (pre = 0), windows before
# and past the data (n = 0), and a wide window
_PARITY_WINDOWS = [
    (2017, 5, 5),
    (2017, 3, 2),
    (2011, 1, 1),
    (2016, 1, 0),
    (2013, 2, 2),
    (2010, 0, 12),
    (2005, 3, 3),
    (2030, 5, 5),
    (2020, 10, 2),
]


def test_series_window_stats_matches_window_compare(spark, fact):
    """The in-process one-series block equals the grouped plan, field
    for field, over every fixture series plus a series that is constant
    up to 2016 (zero variance in one or both windows)."""
    const = spark.createDataFrame(
        [("Constland", "coverage__bcg", y, 88.1 if y < 2017 else 90.0 + 1.5 * (y - 2017))
         for y in range(2010, 2021)],
        schema=fact.schema,
    )
    facts = fact.unionByName(const)
    keys = [(r.country, r.antigen) for r in dimension_index(facts).collect()]
    series = {
        k: [(r.year, r.coverage_pct) for r in coverage_series(facts, *k).collect()]
        for k in keys
    }
    for start, pre, post in _PARITY_WINDOWS:
        expected = {
            (r.country, r.antigen): r
            for r in window_compare(facts, start, pre, post).collect()
        }
        assert set(expected) == set(keys)
        for k in keys:
            want = expected[k].asDict()
            del want["country"], want["antigen"]
            got = series_window_stats(series[k], start, pre, post).asDict()
            assert list(got) == list(want)
            for field, w in want.items():
                g = got[field]
                where = (k, (start, pre, post), field)
                if w is None or isinstance(w, str):
                    assert g == w, where
                else:
                    assert g == pytest.approx(w, rel=1e-9), where
    # the constant windows really were exercised
    flat = series_window_stats(series[("Constland", "coverage__bcg")], 2013, 2, 2)
    assert flat.var_before == 0.0 and flat.t_stat is None
    assert flat.significance == "insufficient-data"
    half = series_window_stats(series[("Constland", "coverage__bcg")], 2017, 5, 3)
    assert half.var_before == 0.0 and half.t_stat is not None


def test_t_crit_is_t_ppf():
    for conf in (0.9, 0.95, 0.99):
        for dof in range(1, 121):
            assert _t_crit(conf, dof) == float(t_ppf((1 + conf) / 2, dof)), (conf, dof)


@pytest.fixture(scope="module")
def facts(spark, fact):
    """The fixture table plus a series that is constant up to 2016."""
    const = spark.createDataFrame(
        [("Constland", "coverage__bcg", y, 88.1 if y < 2017 else 90.0 + 1.5 * (y - 2017))
         for y in range(2010, 2021)],
        schema=fact.schema,
    )
    return fact.unionByName(const)


def test_series_snapshot_matches_coverage_series(facts):
    snap = series_snapshot(facts)
    keys = [(r.country, r.antigen) for r in dimension_index(facts).collect()]
    assert ("Constland", "coverage__bcg") in keys
    assert list(snap.pairs) == keys
    for k in keys:
        want = [(r.year, r.coverage_pct) for r in coverage_series(facts, *k).collect()]
        # same years, same order and exactly equal floats (no approx)
        assert snap.rows(*k) == want, k
    assert snap.rows("Nowhere", "coverage__bcg") == []


def test_series_snapshot_refuses_above_limit(facts, monkeypatch):
    n = facts.count()
    monkeypatch.setattr(analytics, "SNAPSHOT_MAX_ROWS", n)
    assert series_snapshot(facts) is not None
    monkeypatch.setattr(analytics, "SNAPSHOT_MAX_ROWS", n - 1)
    assert series_snapshot(facts) is None


def test_series_snapshot_many_pairs_in_shuffled_order(spark):
    """Thousands of series over several Arrow batches, in random row
    order, with country names whose byte order is not their numeric
    order: every series comes back whole, year-sorted, in the
    ``dimension_index`` pair order."""
    from pyspark.sql import functions as F

    n_pairs, years = 3000, 40
    pair = F.floor(F.col("id") / years)
    fact = (
        spark.range(n_pairs * years)
        .select(
            F.concat(F.lit("Côte "), (pair % 250).cast("string")).alias("country"),
            F.concat(F.lit("ag"), F.floor(pair / 250).cast("string")).alias("antigen"),
            (F.lit(1980) + F.col("id") % years).cast("int").alias("year"),
            ((F.col("id") * 7919) % 1000 / 10.0).alias("coverage_pct"),
        )
        .orderBy(F.rand(7))
    )
    want: dict[tuple[str, str], list[tuple[int, float]]] = {}
    for i in range(n_pairs * years):
        p = i // years
        key = (f"Côte {p % 250}", f"ag{p // 250}")
        want.setdefault(key, []).append((1980 + i % years, (i * 7919) % 1000 / 10.0))
    snap = series_snapshot(fact)
    assert list(snap.pairs) == sorted(want)
    assert list(snap.pairs) == [(r.country, r.antigen) for r in dimension_index(fact).collect()]
    for key, rows in want.items():
        assert snap.rows(*key) == rows, key
