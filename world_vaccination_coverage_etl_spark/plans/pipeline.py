"""The ETL logical plan: wide CSV → melt → clean → parquet warehouse.

Reference behavior being reproduced (SURVEY.md §2.1-2.3, §3 EP1):

1. schema-drift guard — case-insensitive ``entity``/``year`` resolution,
   fail fast if either disappears (reference etl_pipeline.py:56-62);
2. measure discovery — every column with the ``coverage__`` prefix
   (etl_pipeline.py:64-66);
3. melt wide→long (etl_pipeline.py:68-73); its ``dropna()`` is step 5's
   null-coverage rule;
4. rename ``entity``→``country`` (etl_pipeline.py:74);
5. typing and drops (etl_pipeline.py:75) — ``try_cast`` of ``year`` and
   ``coverage_pct``, then every row one of `DROP_RULES` meets is dropped:
   null or unparseable coverage, null key, year outside [1980, 2100];
6. PRIMARY-KEY semantics (etl_pipeline.py:91, SURVEY §1.3) →
   ``dropDuplicates`` on the composite key right before the write, so
   the written keys are unique by construction; `run_etl` then checks
   the parquet footers' row count against the rows the write pass
   counted (`check_written_rows`), and `assert_unique_key` stays the
   full read-back check for callers that want it;
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

import json
import posixpath
import time
from contextlib import suppress

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schemas import (
    COVERAGE_PREFIX,
    IMMUNIZATION_KEY,
    RUN_MANIFEST,
    TABLE_CLEAN,
    TABLE_RAW,
    YEAR_MAX,
    YEAR_MIN,
)
from ..sources.csv_source import read_wide_csv, read_wide_csv_strings
from ..sources.warehouse import (
    footer_row_count,
    table_path,
    warehouse_filesystem,
    write_warehouse_table,
)


class SchemaDriftError(ValueError):
    """Upstream schema no longer matches expectations (fail fast)."""


def _resolve_case_insensitive(df: DataFrame, wanted: str) -> str:
    lower_to_actual = {c.lower(): c for c in df.columns}
    if wanted.lower() not in lower_to_actual:
        raise SchemaDriftError(
            f"required column {wanted!r} missing from upstream schema: {df.columns}"
        )
    return lower_to_actual[wanted.lower()]


def discover_coverage_columns(df: DataFrame) -> list[str]:
    """Measure columns by the ``COVERAGE_PREFIX`` name prefix;
    drift-fail when none exist."""
    cols = [c for c in df.columns if c.startswith(COVERAGE_PREFIX)]
    if not cols:
        raise SchemaDriftError(f"no {COVERAGE_PREFIX}* measure columns found in {df.columns}")
    return cols


def melt_wide_to_tidy(df: DataFrame) -> DataFrame:
    """Wide → long unpivot: the signature reshape (SURVEY §2.3).

    Uses Spark's native ``unpivot`` (Catalyst Expand — one pass, no
    shuffle): one row per input row and measure column, null measures
    included.  `clean_immunization` drops those, so the two together
    match pandas ``melt(...).dropna()``, and `run_etl` counts them in
    between.
    """
    entity_col = _resolve_case_insensitive(df, "entity")
    year_col = _resolve_case_insensitive(df, "year")
    coverage_cols = discover_coverage_columns(df)

    tidy = df.unpivot(
        ids=[entity_col, year_col],
        values=coverage_cols,
        variableColumnName="antigen",
        valueColumnName="coverage_pct",
    )
    return tidy.withColumnRenamed(entity_col, "country").withColumnRenamed(year_col, "year")


# Why a melted row is dropped, as (reason, SQL predicate) in the order
# the rules are tested: `run_etl` counts a row under the first rule it
# meets, and `clean_immunization` keeps the rows that meet none.  The
# predicates read the typed columns of `_typed` and, to tell an empty
# cell from one that does not parse, the input values ``_raw_year`` and
# ``_raw_coverage``.
DROP_RULES = (
    ("null_coverage", "_raw_coverage IS NULL"),
    ("unparseable_number", "coverage_pct IS NULL OR (year IS NULL AND _raw_year IS NOT NULL)"),
    ("null_key", "country IS NULL OR antigen IS NULL OR year IS NULL"),
    ("year_out_of_range", f"year NOT BETWEEN {YEAR_MIN} AND {YEAR_MAX}"),
)


def _typed(tidy: DataFrame) -> DataFrame:
    """``year`` and ``coverage_pct`` ``try_cast`` to int and double, with
    the input values beside them for `DROP_RULES`.

    A string that does not parse becomes null (a plain cast raises
    under ANSI mode); on already-typed columns the casts are no-ops.
    """
    year, cov = F.col("year"), F.col("coverage_pct")
    return tidy.select(
        "country",
        "antigen",
        year.try_cast("int").alias("year"),
        cov.try_cast("double").alias("coverage_pct"),
        year.alias("_raw_year"),
        cov.alias("_raw_coverage"),
    )


def _drop_rule() -> Column:
    """Index in `DROP_RULES` of the first rule a `_typed` row meets;
    null for a row that meets none."""
    (_, first), *rest = DROP_RULES
    rule = F.when(F.expr(first), 0)
    for i, (_, predicate) in enumerate(rest, start=1):
        rule = rule.when(F.expr(predicate), i)
    return rule


def clean_immunization(tidy: DataFrame) -> DataFrame:
    """Type, drop per `DROP_RULES`, and enforce PK-style uniqueness on
    the tidy frame.

    The frame is hash-partitioned by ``antigen`` right before the
    dedup: that Exchange also satisfies the dedup's distribution on the
    composite key, so the plan keeps exactly one shuffle, and a
    ``partitionBy("antigen")`` write of the result gives one file per
    antigen.
    """
    return (
        _typed(tidy)
        .filter(_drop_rule().isNull())
        .select("country", "antigen", "year", "coverage_pct")
        .repartition("antigen")
        .dropDuplicates(IMMUNIZATION_KEY)
    )


def assert_unique_key(df: DataFrame, key: list[str] | None = None) -> None:
    """Uniqueness assertion standing in for SQLite PK enforcement.

    A full read-back check (a ``groupBy(key).count()`` job).  `run_etl`
    does not run it: its write is unique by construction and checked by
    row count (`check_written_rows`).  A writer that rewrites one row's
    key into another existing key keeps the row count, so only this
    check catches that.
    """
    key = key or IMMUNIZATION_KEY
    dupes = df.groupBy(*key).count().filter(F.col("count") > 1)
    if not dupes.isEmpty():
        sample = [r.asDict() for r in dupes.limit(5).collect()]
        raise ValueError(f"duplicate composite keys found, e.g. {sample}")


def _observe_input(tidy: DataFrame, first_measure: str, observation: Observation) -> DataFrame:
    """Type the tidy frame of strings and count, on ``observation``, the
    rows read and melted and the rows each of `DROP_RULES` drops.

    The rows no rule drops are the rows `clean_immunization` keeps
    before its dedup.  `melt_wide_to_tidy` emits one row per input row
    and measure, so the input rows are the rows of one measure.

    No filter is pushed below an observation, so each cell is parsed
    once, here; `clean_immunization`'s casts are then no-ops.
    """
    drop = F.col("_drop")
    return (
        _typed(tidy)
        .withColumn("_drop", _drop_rule())
        .observe(
            observation,
            F.count_if(F.col("antigen") == first_measure).alias("rows_read"),
            F.count(F.lit(1)).alias("rows_melted"),
            *(F.count_if(drop == i).alias(f"dropped_{reason}")
              for i, (reason, _) in enumerate(DROP_RULES)),
            F.count_if(drop.isNull()).alias("rows_kept"),
        )
        .select("country", "antigen", "year", "coverage_pct")
    )


def check_written_rows(path: str, rows_written: int) -> None:
    """Fail unless the parquet footers under ``path`` hold exactly the
    rows the write pass counted (pyarrow metadata, no Spark job).

    Catches a file lost from, or added to, the table after the write:
    either changes the row count a reader sees.
    """
    on_disk = footer_row_count(path)
    if on_disk != rows_written:
        raise ValueError(
            f"{path}: parquet footers hold {on_disk} rows, the write pass wrote {rows_written}"
        )


def run_etl(spark: SparkSession, csv_path: str, warehouse_dir: str) -> DataFrame:
    """Full ETL: staging CSV → raw + clean warehouse tables.

    Returns the clean DataFrame, read back lazily from the warehouse so
    callers see exactly what was persisted.  The clean table is
    partitioned by ``antigen`` — low cardinality (~15) keeps file
    counts healthy at any scale and serves the dashboards' (country,
    antigen) predicates via partition pruning.  With the antigen hash
    partitioning of `clean_immunization` each antigen directory holds
    one file; the trade-off is that the dedup's parallelism is capped
    at the number of antigens (~15), whatever the core count.

    The clean chain runs one Spark job, the clean write: it reads the
    CSV as strings (`read_wide_csv_strings`, no inference pass) and
    reads the table back with the schema it wrote (no footer job).
    Two `Observation`s ride the write: one on the melted rows before
    any drop (rows read and melted, rows dropped per `DROP_RULES`),
    one on the deduplicated rows (rows written).  Spark's `Observation`
    aggregates the rows that pass one point of the plan, and these
    counts sit on either side of the filters and the dedup, hence two.
    The write is unique on `IMMUNIZATION_KEY` by construction
    (``dropDuplicates`` right before it), and `check_written_rows` then
    checks the footers against the rows written.  No read-back job
    runs; `assert_unique_key` is the full check for callers that want
    one.

    The raw copy is read with inference and written from one worker
    thread while this thread runs the clean chain, so its inference
    pass overlaps the clean write.  The worker is an
    `InheritableThread`, so its jobs carry the caller's job group and
    local properties.  It is always joined before this function returns
    or raises; if either side fails, the error that happened first is
    raised once both are done.

    The footer check and the run manifest go through pyarrow
    (`warehouse_filesystem`), so ``warehouse_dir`` is a local path or a
    URI pyarrow opens; any other raises ValueError before anything is
    written.  A previous run's ``RUN_MANIFEST`` is removed first, and on
    success the counts, input path, timings and application id go to a
    new one (`read_run_manifest`): a manifest that exists always
    describes the tables beside it.
    """
    filesystem, root = warehouse_filesystem(warehouse_dir)
    manifest_path = posixpath.join(root, RUN_MANIFEST)
    with suppress(FileNotFoundError):
        filesystem.delete_file(manifest_path)
    t0 = time.perf_counter()
    timings: dict[str, float] = {}
    errors: list[BaseException] = []

    def write_raw() -> None:
        try:
            write_warehouse_table(read_wide_csv(spark, csv_path), warehouse_dir, TABLE_RAW)
            timings["raw_s"] = time.perf_counter() - t0
        except BaseException as e:  # re-raised by the caller's thread
            errors.append(e)

    raw_writer = InheritableThread(write_raw, session=spark, name="run_etl-raw-write")
    raw_writer.start()
    try:
        out, counts = _load_clean(spark, csv_path, warehouse_dir)
        timings["clean_s"] = time.perf_counter() - t0
    except BaseException as e:
        errors.append(e)
    raw_writer.join()
    if errors:
        raise errors[0]
    timings["total_s"] = time.perf_counter() - t0
    manifest = {
        "input": csv_path,
        "app_id": spark.sparkContext.applicationId,
        "counts": counts,
        "timings_s": timings,
    }
    with filesystem.open_output_stream(manifest_path) as f:
        f.write(json.dumps(manifest, indent=2).encode())
    return out


def read_run_manifest(warehouse_dir: str) -> dict:
    """The ``RUN_MANIFEST`` the last successful `run_etl` into
    ``warehouse_dir`` wrote."""
    filesystem, root = warehouse_filesystem(warehouse_dir)
    with filesystem.open_input_stream(posixpath.join(root, RUN_MANIFEST)) as f:
        return json.loads(f.read())


def _load_clean(
    spark: SparkSession, csv_path: str, warehouse_dir: str
) -> tuple[DataFrame, dict[str, int]]:
    wide = read_wide_csv_strings(spark, csv_path)
    seen, written = Observation(), Observation()
    tidy = melt_wide_to_tidy(wide)
    tidy = _observe_input(tidy, discover_coverage_columns(wide)[0], seen)
    clean = clean_immunization(tidy).observe(written, F.count(F.lit(1)).alias("rows_written"))
    path = table_path(warehouse_dir, TABLE_CLEAN)
    write_warehouse_table(clean, warehouse_dir, TABLE_CLEAN, partition_by=["antigen"])
    counts, rows_written = seen.get, written.get["rows_written"]
    counts["duplicates_removed"] = counts.pop("rows_kept") - rows_written
    counts["rows_written"] = rows_written
    # refresh hook: a reload invalidates both the memoized dimension
    # index (reference cache_data expiry, streamlit_app.py:144-145) and
    # any cached file listings/data for the rewritten warehouse path
    from .analytics import invalidate_dimension_index

    invalidate_dimension_index()
    spark.catalog.refreshByPath(path)
    # the schema is known: a schema-less parquet read runs a footer job
    out = spark.read.schema(clean.schema).parquet(path)
    check_written_rows(path, rows_written)
    return out, counts
