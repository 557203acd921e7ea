"""Dashboard analytics as DataFrame plans (SURVEY.md §2.2, §2.5, §3 EP2/EP3).

The reference computes these per-series with pandas after a SQLite index
lookup; here each is a declarative plan over the fact table so the same
code serves one series or every (country, antigen) group at once — the
grouped form is what scales: one shuffle, partial aggregation map-side,
statistics from aggregates only.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.stats import mean_ci_columns, two_sided_p_udf, welch_t_columns


def dimension_index(fact: DataFrame) -> DataFrame:
    """Distinct (country, antigen) pairs, ordered — the dimension index
    (reference streamlit_app.py:99-108).  Cache-worthy: tiny result."""
    return fact.select("country", "antigen").distinct().orderBy("country", "antigen")


# memo table for the hot dimension index, keyed by the fact plan's
# semantic hash — the Spark analogue of the reference's
# ``st.cache_data(ttl=3600)`` on its two hot queries
# (streamlit_app.py:99,111).  ``.cache()`` pins the distinct result
# (~10² rows) in executor memory; repeat calls skip the scan + shuffle
# entirely.  The dashboard server uses it only for a table too large
# for ``series_snapshot``.  Keyed by (session, semantic hash) — see
# cached_dimension_index.
_DIM_INDEX_MEMO: dict[tuple[object, int], DataFrame] = {}


def cached_dimension_index(fact: DataFrame) -> DataFrame:
    """Memoized + Spark-cached ``dimension_index``.

    The first call per distinct fact plan materializes and ``cache()``s
    the index; later calls return the same cached DataFrame.  Call
    ``invalidate_dimension_index()`` after an ETL refresh (run_etl does
    this) — the reference's TTL-based expiry maps to explicit
    invalidation-on-refresh here, which is strictly fresher.

    The memo key includes the owning SparkSession: a semantic hash can
    recur after a session restart, and returning a DataFrame bound to a
    stopped session would fail on first use (advisor-flagged r3).
    """
    for sess, h in list(_DIM_INDEX_MEMO):
        if _session_stopped(sess):
            # dead sessions can't serve (or unpersist) their DataFrames;
            # drop the entries so the memo doesn't pin them forever
            del _DIM_INDEX_MEMO[(sess, h)]
    key = (fact.sparkSession, fact.semanticHash())
    memo = _DIM_INDEX_MEMO.get(key)
    if memo is None:
        memo = dimension_index(fact).cache()
        _DIM_INDEX_MEMO[key] = memo
    return memo


def _session_stopped(sess) -> bool:
    try:
        sc = sess.sparkContext
        return sc._jsc is None or sc._jsc.sc().isStopped()
    except Exception:
        return True


def invalidate_dimension_index() -> None:
    """Unpersist and forget every memoized dimension index."""
    for df in _DIM_INDEX_MEMO.values():
        try:
            df.unpersist()
        except Exception:
            # a stopped session can no longer unpersist; dropping the
            # reference is all that's left to do
            pass
    _DIM_INDEX_MEMO.clear()


def antigens_for_country(fact: DataFrame, country: str) -> DataFrame:
    """Dependent-dimension filter (reference streamlit_app.py:190)."""
    return (
        fact.filter(F.col("country") == F.lit(country))
        .select("antigen")
        .distinct()
        .orderBy("antigen")
    )


def coverage_series(fact: DataFrame, country: str, antigen: str) -> DataFrame:
    """One (country, antigen) time series, year-ordered (reference
    etl_pipeline.py:109-118).  The equality predicates push down to the
    parquet scan (partition pruning on antigen + row-group skipping).

    A series holds at most one row per year of the clean table's
    [1980, 2100] clamp, so the pruned scan is coalesced into one task
    and sorted there: a collect is 1 Spark job of 1 task with no
    shuffle (so no adaptive re-planning), instead of the 3 jobs of a
    range-partitioned ``orderBy``, whose sampling job scans the input a
    second time.  The scan reads the one antigen partition serially."""
    return (
        fact.filter((F.col("country") == F.lit(country)) & (F.col("antigen") == F.lit(antigen)))
        .select("year", "coverage_pct")
        .coalesce(1)
        .sortWithinPartitions("year")
    )


# The most rows ``series_snapshot`` holds on the driver.  A snapshot
# keeps ~12 bytes of Arrow buffers per row (int32 year, float64
# coverage), so ~25 MB at the limit; the build briefly also holds the
# row's country and antigen strings.
SNAPSHOT_MAX_ROWS = 2_000_000


class SeriesSnapshot:
    """Every (country, antigen) series of a fact table, held on the
    driver: ``pairs`` in ``dimension_index`` order, and per pair the
    year-sorted ``(year, coverage_pct)`` rows of ``coverage_series``
    as zero-copy slices of one Arrow table."""

    def __init__(self, series: dict[tuple[str, str], pa.Table]):
        self._series = series
        self.pairs = tuple(series)

    def rows(self, country: str, antigen: str) -> list[tuple[int, float | None]]:
        """The pair's series as ``coverage_series`` collects it; empty
        when the pair is absent."""
        part = self._series.get((country, antigen))
        if part is None:
            return []
        return list(zip(part["year"].to_pylist(), part["coverage_pct"].to_pylist()))


def series_snapshot(fact: DataFrame) -> SeriesSnapshot | None:
    """All of ``fact``'s series from one Spark action, or None when
    ``fact`` has more than ``SNAPSHOT_MAX_ROWS`` rows.

    The scan is coalesced into one task under a limit of
    ``SNAPSHOT_MAX_ROWS + 1`` rows, so the one ``toArrow()`` job stops
    reading there and never brings more to the driver.  The rows are
    sorted by (country, antigen, year) in Arrow, whose byte-wise string
    order is Spark's, and cut into one slice per pair.  The country and
    antigen columns are non-null in the clean table's contract."""
    table = (
        fact.select("country", "antigen", "year", "coverage_pct")
        .coalesce(1)
        .limit(SNAPSHOT_MAX_ROWS + 1)
        .toArrow()
    )
    if table.num_rows > SNAPSHOT_MAX_ROWS:
        return None
    table = table.sort_by([("country", "ascending"), ("antigen", "ascending"),
                           ("year", "ascending")]).combine_chunks()
    country, antigen = table["country"], table["antigen"]
    # a pair's run starts at row 0 and wherever either key changes
    changed = pc.or_(pc.not_equal(country[1:], country[:-1]),
                     pc.not_equal(antigen[1:], antigen[:-1]))
    starts = [0, *pc.add(pc.indices_nonzero(changed), 1).to_pylist()] if len(table) else []
    body = table.select(["year", "coverage_pct"])
    series = {}
    for c, a, start, stop in zip(
        country.take(starts).to_pylist(),
        antigen.take(starts).to_pylist(),
        starts,
        starts[1:] + [len(table)],
    ):
        series[(c, a)] = body.slice(start, stop - start)
    return SeriesSnapshot(series)


def series_kpis(fact: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """First/last/min/max/count KPIs per series (reference
    streamlit_app.py:199-203) via ``min_by``/``max_by`` — single
    aggregation pass, no window shuffle."""
    group_cols = group_cols if group_cols is not None else ["country", "antigen"]
    return fact.groupBy(*group_cols).agg(
        F.min("year").alias("first_year"),
        F.max("year").alias("last_year"),
        F.count("*").alias("n_obs"),
        F.min_by("coverage_pct", "year").alias("earliest_coverage"),
        F.max_by("coverage_pct", "year").alias("latest_coverage"),
        (F.max_by("coverage_pct", "year") - F.min_by("coverage_pct", "year")).alias(
            "delta_pp"
        ),
    )


def window_compare(
    fact: DataFrame,
    start_year: int,
    pre_years: int = 5,
    post_years: int = 5,
    value_col: str = "coverage_pct",
    time_col: str = "year",
    group_cols: list[str] | None = None,
    conf: float = 0.95,
) -> DataFrame:
    """Before/after campaign comparison block (reference
    etl_pipeline.py:124-149; streamlit_app.py:317-342).

    Single-pass conditional aggregation: the before window is
    [start−pre, start−1], the after window [start, start+post].  Means,
    percentage-point diff, per-window CIs, Welch t/df/p and the
    ``p < 0.05`` significance flag all derive from one ``groupBy``.
    Python (t quantile/CDF) touches only the aggregated rows.
    """
    group_cols = group_cols if group_cols is not None else ["country", "antigen"]
    y = F.col(time_col)
    v = F.col(value_col)
    in_before = y.between(start_year - pre_years, start_year - 1)
    in_after = y.between(start_year, start_year + post_years)

    def agg_if(cond: Column, fn, name: str) -> Column:
        return fn(F.when(cond, v)).alias(name)

    aggregated = fact.groupBy(*group_cols).agg(
        agg_if(in_before, F.avg, "avg_before"),
        agg_if(in_after, F.avg, "avg_after"),
        agg_if(in_before, F.var_samp, "var_before"),
        agg_if(in_after, F.var_samp, "var_after"),
        agg_if(in_before, F.stddev_samp, "sd_before"),
        agg_if(in_after, F.stddev_samp, "sd_after"),
        F.count(F.when(in_before, v)).alias("n_before"),
        F.count(F.when(in_after, v)).alias("n_after"),
    )

    t_stat, dof = welch_t_columns(
        F.col("avg_before"), F.col("var_before"), F.col("n_before"),
        F.col("avg_after"), F.col("var_after"), F.col("n_after"),
    )
    ci_lo_b, ci_hi_b = mean_ci_columns(
        F.col("avg_before"), F.col("sd_before"), F.col("n_before"), conf
    )
    ci_lo_a, ci_hi_a = mean_ci_columns(
        F.col("avg_after"), F.col("sd_after"), F.col("n_after"), conf
    )

    with_stats = (
        aggregated.withColumn("diff_pp", F.col("avg_after") - F.col("avg_before"))
        .withColumn("t_stat", t_stat)
        .withColumn("dof", dof)
        .withColumn("ci_lo_before", ci_lo_b)
        .withColumn("ci_hi_before", ci_hi_b)
        .withColumn("ci_lo_after", ci_lo_a)
        .withColumn("ci_hi_after", ci_hi_a)
    )
    with_p = with_stats.withColumn(
        "p_value", two_sided_p_udf(F.col("t_stat"), F.col("dof"))
    )
    return with_p.withColumn(
        "significance",
        F.when(F.col("p_value").isNull(), F.lit("insufficient-data"))
        .when((F.col("p_value") < 0.05) & (F.col("diff_pp") > 0), F.lit("significant-increase"))
        .when((F.col("p_value") < 0.05) & (F.col("diff_pp") < 0), F.lit("significant-decrease"))
        .otherwise(F.lit("inconclusive")),
    )
