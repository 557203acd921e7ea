"""The ETL logical plan: wide CSV → melt → clean → parquet warehouse.

Reference behavior being reproduced (SURVEY.md §2.1-2.3, §3 EP1):

1. schema-drift guard — case-insensitive ``entity``/``year`` resolution,
   fail fast if either disappears (reference etl_pipeline.py:56-62);
2. measure discovery — every column with the ``coverage__`` prefix
   (etl_pipeline.py:64-66);
3. melt wide→long with nulls dropped (etl_pipeline.py:68-73);
4. rename ``entity``→``country`` (etl_pipeline.py:74);
5. year sanity clamp to [1980, 2100] (etl_pipeline.py:75);
6. PRIMARY-KEY dedup semantics → ``dropDuplicates`` on the composite
   key + optional uniqueness assertion (etl_pipeline.py:91, SURVEY §1.3);
7. truncate-and-reload load → ``mode("overwrite")`` parquet
   (etl_pipeline.py:81-96).

Everything is a lazy DataFrame transform — Catalyst prunes the untouched
wide columns out of the scan.  The single shuffle in the whole plan is a
hash partitioning on ``antigen``: ``antigen`` is part of the composite
key, so that one Exchange serves both the dedup's aggregation and the
``partitionBy("antigen")`` warehouse write (every antigen lands in one
task, so each antigen partition is one file).
"""

from __future__ import annotations

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import (
    COVERAGE_PREFIX,
    IMMUNIZATION_KEY,
    TABLE_CLEAN,
    TABLE_RAW,
    YEAR_MAX,
    YEAR_MIN,
)
from ..sources.csv_source import read_wide_csv
from ..sources.warehouse import write_warehouse_table


class SchemaDriftError(ValueError):
    """Upstream schema no longer matches expectations (fail fast)."""


def _resolve_case_insensitive(df: DataFrame, wanted: str) -> str:
    lower_to_actual = {c.lower(): c for c in df.columns}
    if wanted.lower() not in lower_to_actual:
        raise SchemaDriftError(
            f"required column {wanted!r} missing from upstream schema: {df.columns}"
        )
    return lower_to_actual[wanted.lower()]


def discover_coverage_columns(df: DataFrame, prefix: str = COVERAGE_PREFIX) -> list[str]:
    """Measure columns by name prefix; drift-fail when none exist."""
    cols = [c for c in df.columns if c.startswith(prefix)]
    if not cols:
        raise SchemaDriftError(f"no {prefix}* measure columns found in {df.columns}")
    return cols


def melt_wide_to_tidy(df: DataFrame, prefix: str = COVERAGE_PREFIX) -> DataFrame:
    """Wide → long unpivot: the signature reshape (SURVEY §2.3).

    Uses Spark's native ``unpivot`` (Catalyst Expand — one pass, no
    shuffle), then drops null measures to match pandas
    ``melt(...).dropna()`` exactly.
    """
    entity_col = _resolve_case_insensitive(df, "entity")
    year_col = _resolve_case_insensitive(df, "year")
    coverage_cols = discover_coverage_columns(df, prefix)

    tidy = df.unpivot(
        ids=[entity_col, year_col],
        values=coverage_cols,
        variableColumnName="antigen",
        valueColumnName="coverage_pct",
    )
    return (
        tidy.withColumnRenamed(entity_col, "country")
        .withColumnRenamed(year_col, "year")
        .na.drop(subset=["coverage_pct"])
    )


def clean_immunization(tidy: DataFrame) -> DataFrame:
    """Clamp, cast, and enforce PK-style uniqueness on the tidy frame.

    The frame is hash-partitioned by ``antigen`` right before the
    dedup: that Exchange also satisfies the dedup's distribution on the
    composite key, so the plan keeps exactly one shuffle, and a
    ``partitionBy("antigen")`` write of the result gives one file per
    antigen.
    """
    return (
        tidy.withColumn("year", F.col("year").cast("int"))
        .withColumn("coverage_pct", F.col("coverage_pct").cast("double"))
        .filter(F.col("year").between(YEAR_MIN, YEAR_MAX))
        .na.drop(subset=["country", "antigen", "year"])
        .repartition("antigen")
        .dropDuplicates(IMMUNIZATION_KEY)
        .select("country", "antigen", "year", "coverage_pct")
    )


def assert_unique_key(df: DataFrame, key: list[str] | None = None) -> None:
    """Uniqueness assertion standing in for SQLite PK enforcement."""
    key = key or IMMUNIZATION_KEY
    dupes = df.groupBy(*key).count().filter(F.col("count") > 1)
    if not dupes.isEmpty():
        sample = [r.asDict() for r in dupes.limit(5).collect()]
        raise ValueError(f"duplicate composite keys found, e.g. {sample}")


def run_etl(
    spark: SparkSession,
    csv_path: str,
    warehouse_dir: str,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Full ETL: staging CSV → raw + clean warehouse tables.

    Returns the clean DataFrame (read back from the warehouse so callers
    see exactly what was persisted, and checked by `assert_unique_key`).
    ``partition_by`` defaults to ``["antigen"]`` — low cardinality (~15)
    keeps file counts healthy at any scale and serves the dashboards'
    (country, antigen) predicates via partition pruning.  With the
    antigen hash partitioning of `clean_immunization` each antigen
    directory holds one file; the trade-off is that the dedup's
    parallelism is capped at the number of antigens (~15), whatever the
    core count.

    The raw copy depends on nothing but the scan, so it is written from
    one worker thread while this thread runs the clean chain (clean
    write → refresh → read-back → uniqueness check).  The worker is an
    `InheritableThread`, so its jobs carry the caller's job group and
    local properties.  It is always joined before this function returns
    or raises; if either side fails, the error that happened first is
    raised once both are done.
    """
    partition_by = ["antigen"] if partition_by is None else partition_by
    raw = read_wide_csv(spark, csv_path)
    errors: list[BaseException] = []

    def write_raw() -> None:
        try:
            write_warehouse_table(raw, warehouse_dir, TABLE_RAW)
        except BaseException as e:  # re-raised by the caller's thread
            errors.append(e)

    raw_writer = InheritableThread(write_raw, session=spark, name="run_etl-raw-write")
    raw_writer.start()
    try:
        out = _load_clean(spark, raw, warehouse_dir, partition_by)
    except BaseException as e:
        errors.append(e)
    raw_writer.join()
    if errors:
        raise errors[0]
    return out


def _load_clean(
    spark: SparkSession, raw: DataFrame, warehouse_dir: str, partition_by: list[str]
) -> DataFrame:
    clean = clean_immunization(melt_wide_to_tidy(raw))
    write_warehouse_table(clean, warehouse_dir, TABLE_CLEAN, partition_by=partition_by)
    # refresh hook: a reload invalidates both the memoized dimension
    # index (reference cache_data expiry, streamlit_app.py:144-145) and
    # any cached file listings/data for the rewritten warehouse path
    from .analytics import invalidate_dimension_index

    invalidate_dimension_index()
    spark.catalog.refreshByPath(f"{warehouse_dir}/{TABLE_CLEAN}")
    out = spark.read.parquet(f"{warehouse_dir}/{TABLE_CLEAN}")
    assert_unique_key(out)
    return out
