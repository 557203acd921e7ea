"""ETL pipeline tests over the FIXTURES.md A1-shaped wide fixture."""

from __future__ import annotations

import pytest

from world_vaccination_coverage_etl_spark.plans.pipeline import (
    SchemaDriftError,
    clean_immunization,
    discover_coverage_columns,
    melt_wide_to_tidy,
    run_etl,
    assert_unique_key,
)
from world_vaccination_coverage_etl_spark.schemas import RUN_MANIFEST, TABLE_CLEAN

WIDE_ROWS = [
    # Entity (case-variant header below), year, bcg, dtp3, unrelated
    ("Aland", 1975, 50.0, 60.0, "x"),     # outside clamp -> dropped
    ("Aland", 1990, 70.0, None, "x"),     # null dtp3 dropped by melt
    ("Aland", 1991, 72.0, 75.0, "x"),
    ("Aland", 1992, None, None, "x"),     # all-null year -> no rows
    ("Borland", 1990, 88.0, 90.0, "y"),
    ("Borland", 2105, 99.0, 99.0, "y"),   # outside clamp -> dropped
]


def _write_wide_csv(path, rows):
    header = "entity,year,coverage__bcg,coverage__dtp3,unrelated_col\n"
    lines = [",".join("" if v is None else str(v) for v in row) for row in rows]
    path.write_text(header + "\n".join(lines) + "\n")
    return path


@pytest.fixture(scope="module")
def wide_df(spark):
    return spark.createDataFrame(
        WIDE_ROWS,
        schema="Entity string, YEAR int, coverage__bcg double, "
        "coverage__dtp3 double, unrelated_col string",
    )


def test_discover_requires_prefix_columns(spark):
    df = spark.createDataFrame([("a", 1)], schema="entity string, year int")
    with pytest.raises(SchemaDriftError):
        discover_coverage_columns(df)


def test_drift_guard_missing_entity(spark):
    df = spark.createDataFrame(
        [(1, 2.0)], schema="year int, coverage__bcg double"
    )
    with pytest.raises(SchemaDriftError):
        melt_wide_to_tidy(df)


def test_melt_case_insensitive_and_null_drop(wide_df):
    tidy = melt_wide_to_tidy(wide_df)
    assert set(tidy.columns) == {"country", "antigen", "year", "coverage_pct"}
    # one row per input row and measure, null measures included
    assert tidy.count() == 2 * len(WIDE_ROWS)
    rows = {(r.country, r.antigen, r.year) for r in clean_immunization(tidy).collect()}
    # null measures dropped, unrelated_col ignored
    assert ("Aland", "coverage__dtp3", 1990) not in rows
    assert ("Aland", "coverage__bcg", 1990) in rows
    assert not any(a == "unrelated_col" for _, a, _ in rows)
    # all-null row contributes nothing
    assert not any(y == 1992 for _, _, y in rows)


def test_clean_clamps_years_and_dedups(wide_df, spark):
    tidy = melt_wide_to_tidy(wide_df)
    dup = tidy.union(tidy.limit(1))  # duplicate key row (PK semantics)
    clean = clean_immunization(dup)
    years = [r.year for r in clean.select("year").distinct().collect()]
    assert all(1980 <= y <= 2100 for y in years)
    assert_unique_key(clean)  # must not raise
    assert clean.count() == 5  # 3 Aland + 2 Borland in-range observations


def test_run_etl_end_to_end(spark, tmp_path):
    csv = _write_wide_csv(tmp_path / "wide.csv", WIDE_ROWS)

    clean = run_etl(spark, str(csv), str(tmp_path / "warehouse"))
    assert_unique_key(clean)
    assert clean.count() == 5
    assert {f.name for f in clean.schema.fields} == {
        "country", "antigen", "year", "coverage_pct",
    }
    # partitioned by antigen on disk
    parts = {p.name for p in (tmp_path / "warehouse" / "immunization").iterdir()}
    assert any(p.startswith("antigen=") for p in parts)
    raw = spark.read.parquet(str(tmp_path / "warehouse" / "owid_raw"))
    assert raw.count() == len(WIDE_ROWS)


def test_run_etl_writes_one_file_per_antigen(spark, tmp_path):
    """The clean table is hash-partitioned by antigen before its write,
    so each antigen directory holds exactly one parquet file however
    many shuffle partitions the write runs (AQE coalescing is off here,
    or this tiny input would reach the write as one partition anyway)."""
    rows = [
        (f"C{i:02d}", 1980 + y, 50.0 + y, 60.0 + i, "x")
        for i in range(12)
        for y in range(5)
    ]
    csv = _write_wide_csv(tmp_path / "wide.csv", rows)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    coalesce = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        clean = run_etl(spark, str(csv), str(tmp_path / "warehouse"))
    finally:
        spark.conf.set(key, coalesce)
    assert clean.count() == 2 * len(rows)
    antigen_dirs = list((tmp_path / "warehouse" / "immunization").glob("antigen=*"))
    assert len(antigen_dirs) == 2
    for d in antigen_dirs:
        assert len(list(d.glob("*.parquet"))) == 1, d.name


def test_clean_plan_has_one_exchange(wide_df):
    """The antigen hash partitioning also satisfies the dedup's
    distribution: the clean plan shuffles once."""
    clean = clean_immunization(melt_wide_to_tidy(wide_df))
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(antigen" in plan


def _fail_raw_write(monkeypatch, exc):
    from world_vaccination_coverage_etl_spark.plans import pipeline
    from world_vaccination_coverage_etl_spark.schemas import TABLE_RAW

    real_write = pipeline.write_warehouse_table

    def write(df, warehouse_dir, table, *a, **k):
        if table == TABLE_RAW:
            raise exc
        return real_write(df, warehouse_dir, table, *a, **k)

    monkeypatch.setattr(pipeline, "write_warehouse_table", write)


def test_run_etl_raw_write_error_raised_after_clean_side(spark, tmp_path, monkeypatch):
    """A failed raw write surfaces from run_etl, but only once the
    clean chain (write, read-back, row-count check) has finished."""
    from world_vaccination_coverage_etl_spark.plans import pipeline

    boom = OSError("raw write failed")
    _fail_raw_write(monkeypatch, boom)
    checked = []
    real_check = pipeline.check_written_rows

    def check(path, rows_written):
        real_check(path, rows_written)
        checked.append(rows_written)

    monkeypatch.setattr(pipeline, "check_written_rows", check)
    csv = _write_wide_csv(tmp_path / "wide.csv", WIDE_ROWS)
    with pytest.raises(OSError) as err:
        run_etl(spark, str(csv), str(tmp_path / "warehouse"))
    assert err.value is boom
    assert checked == [5]


def test_run_etl_raises_first_error_when_both_sides_fail(spark, tmp_path, monkeypatch):
    import threading

    from world_vaccination_coverage_etl_spark.plans import pipeline
    from world_vaccination_coverage_etl_spark.schemas import TABLE_RAW

    raw_err = OSError("raw write failed")
    raw_failing = threading.Event()
    real_write = pipeline.write_warehouse_table

    def write(df, warehouse_dir, table, *a, **k):
        if table == TABLE_RAW:
            raw_failing.set()
            raise raw_err
        return real_write(df, warehouse_dir, table, *a, **k)

    waited = []

    def check(path, rows_written):
        # fail the clean side only once the raw writer has failed and exited
        waited.append(raw_failing.wait(timeout=120))
        for t in threading.enumerate():
            if t.name == "run_etl-raw-write":
                t.join(timeout=120)
                waited.append(not t.is_alive())
        raise ValueError("clean side failed")

    monkeypatch.setattr(pipeline, "write_warehouse_table", write)
    monkeypatch.setattr(pipeline, "check_written_rows", check)
    csv = _write_wide_csv(tmp_path / "wide.csv", WIDE_ROWS)
    with pytest.raises(OSError) as err:
        run_etl(spark, str(csv), str(tmp_path / "warehouse"))
    assert all(waited) and waited
    assert err.value is raw_err


def test_run_etl_raw_write_jobs_carry_callers_job_group(spark, tmp_path, monkeypatch):
    """The raw write runs in a worker thread; its jobs still belong to
    the job group the caller set.  The raw write is held until the clean
    side is done, so the jobs the group gains during it are its own."""
    import threading

    from world_vaccination_coverage_etl_spark.plans import pipeline
    from world_vaccination_coverage_etl_spark.schemas import TABLE_RAW

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    clean_done = threading.Event()
    raw_jobs = []
    real_write, real_check = pipeline.write_warehouse_table, pipeline.check_written_rows

    def write(df, warehouse_dir, table, *a, **k):
        if table != TABLE_RAW:
            return real_write(df, warehouse_dir, table, *a, **k)
        assert clean_done.wait(timeout=120)
        before = set(tracker.getJobIdsForGroup("etl-t"))
        out = real_write(df, warehouse_dir, table, *a, **k)
        raw_jobs.extend(set(tracker.getJobIdsForGroup("etl-t")) - before)
        return out

    def check(path, rows_written):
        real_check(path, rows_written)
        clean_done.set()

    monkeypatch.setattr(pipeline, "write_warehouse_table", write)
    monkeypatch.setattr(pipeline, "check_written_rows", check)
    csv = _write_wide_csv(tmp_path / "wide.csv", WIDE_ROWS)
    sc.setJobGroup("etl-t", "job group of a refresh")
    try:
        run_etl(spark, str(csv), str(tmp_path / "warehouse"))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    group = set(tracker.getJobIdsForGroup("etl-t"))
    assert raw_jobs and set(raw_jobs) <= group
    assert len(group) > len(raw_jobs)  # the clean side's jobs are in it too


def _manifest(warehouse):
    from world_vaccination_coverage_etl_spark.plans.pipeline import read_run_manifest

    return read_run_manifest(str(warehouse))


def _clean_rows(df):
    return {(r.country, r.antigen, r.year): r.coverage_pct for r in df.collect()}


def test_run_etl_drops_unparseable_numbers(spark, tmp_path):
    """One bad cell drops one row; a column of bad cells drops its rows.
    Neither turns its column into strings for the rest of the file (an
    inferred schema did, and the melt then failed on mixed types)."""
    header = "entity,year,coverage__bcg,coverage__dtp3,coverage__hepb\n"
    (tmp_path / "wide.csv").write_text(
        header
        + "Aland,1990,n/a,60.0,n/a\n"
        + "Aland,1991,72.0,75.0,-\n"
        + "Borland,1990,88.0,90.0,n/a\n"
    )
    wh = tmp_path / "warehouse"
    clean = run_etl(spark, str(tmp_path / "wide.csv"), str(wh))
    assert_unique_key(clean)
    assert _clean_rows(clean) == {
        ("Aland", "coverage__dtp3", 1990): 60.0,
        ("Aland", "coverage__bcg", 1991): 72.0,
        ("Aland", "coverage__dtp3", 1991): 75.0,
        ("Borland", "coverage__bcg", 1990): 88.0,
        ("Borland", "coverage__dtp3", 1990): 90.0,
    }
    assert _manifest(wh)["counts"]["dropped_unparseable_number"] == 4


BAD_ROWS = [
    # entity, year, bcg, dtp3, hepb (every hepb cell is unparseable)
    ("Aland", "1990", "70.0", "80.0", "n/a"),   # 2 kept
    ("Aland", "1991", "n/a", "81.5", "bad"),    # bcg unparseable, dtp3 kept
    ("Aland", "1992", "", "82.0", "n/a"),       # bcg null coverage, dtp3 kept
    ("Aland", "1975", "60.0", "61.0", "n/a"),   # 2 years out of range
    ("", "1993", "50.0", "51.0", "n/a"),        # 2 null keys (country)
    ("Borland", "", "40.0", "", "n/a"),         # null key (year), null coverage
    ("Borland", "1990", "90.0", "91.0", "n/a"),  # 2 kept
    ("Borland", "1990", "90.0", "91.0", "n/a"),  # 2 duplicate keys
    ("Borland", "19x0", "30.0", "31.0", "n/a"),  # unparseable year: 2 more
    ("Borland", "2105", "10.0", "11.0", "n/a"),  # 2 years out of range
]


def test_run_manifest_counts_every_drop_reason(spark, tmp_path):
    header = "entity,year,coverage__bcg,coverage__dtp3,coverage__hepb\n"
    (tmp_path / "wide.csv").write_text(header + "".join(",".join(r) + "\n" for r in BAD_ROWS))
    wh = tmp_path / "warehouse"
    clean = run_etl(spark, str(tmp_path / "wide.csv"), str(wh))
    assert_unique_key(clean)
    assert _clean_rows(clean) == {
        ("Aland", "coverage__bcg", 1990): 70.0,
        ("Aland", "coverage__dtp3", 1990): 80.0,
        ("Aland", "coverage__dtp3", 1991): 81.5,
        ("Aland", "coverage__dtp3", 1992): 82.0,
        ("Borland", "coverage__bcg", 1990): 90.0,
        ("Borland", "coverage__dtp3", 1990): 91.0,
    }
    manifest = _manifest(wh)
    assert manifest["counts"] == {
        "rows_read": 10,
        "rows_melted": 30,
        "dropped_null_coverage": 2,
        "dropped_unparseable_number": 13,
        "dropped_null_key": 3,
        "dropped_year_out_of_range": 4,
        "duplicates_removed": 2,
        "rows_written": 6,
    }
    assert manifest["input"] == str(tmp_path / "wide.csv")
    assert manifest["app_id"] == spark.sparkContext.applicationId
    assert set(manifest["timings_s"]) == {"raw_s", "clean_s", "total_s"}


def test_run_etl_values_equal_python_float_parse(spark, tmp_path):
    """Every written coverage value is the exact double Python parses
    from the CSV text, for full-precision, integer and exponent
    spellings alike."""
    import random

    rnd = random.Random(7)
    spellings = [repr, lambda v: str(int(v)), lambda v: f"{v:.1f}", lambda v: f"{v:e}"]
    rows, want = [], {}
    for i in range(20):
        for year in range(1978, 1990):
            cells = [rnd.choice(spellings)(rnd.uniform(0, 100)) for _ in range(2)]
            rows.append((f"C{i:02d}", year, *cells, "x"))
            if year >= 1980:
                for ag, text in zip(("coverage__bcg", "coverage__dtp3"), cells):
                    want[(f"C{i:02d}", ag, year)] = float(text)
    csv = _write_wide_csv(tmp_path / "wide.csv", rows)
    clean = run_etl(spark, str(csv), str(tmp_path / "warehouse"))
    assert _clean_rows(clean) == want


def _clean_write_then(monkeypatch, damage):
    """Patch the clean write so that `damage(table_dir)` runs after it."""
    from world_vaccination_coverage_etl_spark.plans import pipeline

    real_write = pipeline.write_warehouse_table

    def write(df, warehouse_dir, table, *a, **k):
        path = real_write(df, warehouse_dir, table, *a, **k)
        if table == TABLE_CLEAN:
            damage(path)
        return path

    monkeypatch.setattr(pipeline, "write_warehouse_table", write)


def _part_files(table_dir):
    import pathlib

    return sorted(pathlib.Path(table_dir).glob("antigen=*/part-*.parquet"))


def test_run_etl_fails_when_a_written_row_is_repeated(spark, tmp_path, monkeypatch):
    """A writer that leaves one clean row twice in the table (here as an
    extra file) fails the refresh: the footers hold one row more than
    the write pass counted."""
    import pyarrow.parquet as pq

    def repeat_one_row(table_dir):
        first = _part_files(table_dir)[0]
        pq.write_table(pq.read_table(first).slice(0, 1), first.parent / "part-extra.parquet")

    _clean_write_then(monkeypatch, repeat_one_row)
    csv = _write_wide_csv(tmp_path / "wide.csv", WIDE_ROWS)
    with pytest.raises(ValueError, match="footers hold 6 rows, the write pass wrote 5"):
        run_etl(spark, str(csv), str(tmp_path / "warehouse"))


def test_run_etl_fails_when_a_written_file_is_lost(spark, tmp_path, monkeypatch):
    def lose_one_file(table_dir):
        _part_files(table_dir)[0].unlink()

    _clean_write_then(monkeypatch, lose_one_file)
    csv = _write_wide_csv(tmp_path / "wide.csv", WIDE_ROWS)
    with pytest.raises(ValueError, match="the write pass wrote 5"):
        run_etl(spark, str(csv), str(tmp_path / "warehouse"))


def test_run_etl_accepts_a_file_uri_warehouse(spark, tmp_path):
    """A ``file://`` warehouse works end to end: Spark writes it, and the
    footer check and the manifest reach it through pyarrow."""
    csv = _write_wide_csv(tmp_path / "wide.csv", WIDE_ROWS)
    clean = run_etl(spark, str(csv), (tmp_path / "warehouse").as_uri())
    assert clean.count() == 5
    assert _manifest((tmp_path / "warehouse").as_uri())["counts"]["rows_written"] == 5
    assert (tmp_path / "warehouse" / RUN_MANIFEST).is_file()


def test_run_etl_rejects_an_unopenable_warehouse_before_writing(spark, tmp_path, monkeypatch):
    """A warehouse URI the footer check cannot read fails before either
    table is overwritten, not after."""
    from world_vaccination_coverage_etl_spark.plans import pipeline

    writes = []

    def write(df, warehouse_dir, table, *a, **k):
        writes.append(table)
        raise AssertionError(f"{table} written")

    monkeypatch.setattr(pipeline, "write_warehouse_table", write)
    csv = _write_wide_csv(tmp_path / "wide.csv", WIDE_ROWS)
    with pytest.raises(ValueError, match="nosuchfs://bucket/warehouse: pyarrow cannot open"):
        run_etl(spark, str(csv), "nosuchfs://bucket/warehouse")
    assert writes == []


def test_failed_refresh_leaves_no_manifest(spark, tmp_path, monkeypatch):
    """A refresh that fails after overwriting the tables removes the
    previous run's manifest, so no stale counts sit beside them."""
    csv = _write_wide_csv(tmp_path / "wide.csv", WIDE_ROWS)
    wh = tmp_path / "warehouse"
    run_etl(spark, str(csv), str(wh))
    assert (wh / RUN_MANIFEST).is_file()
    _fail_raw_write(monkeypatch, OSError("raw write failed"))
    with pytest.raises(OSError, match="raw write failed"):
        run_etl(spark, str(csv), str(wh))
    assert (wh / TABLE_CLEAN).is_dir()
    assert not (wh / RUN_MANIFEST).exists()


def test_cli_main_writes_csv_and_chart_artifacts(spark, tmp_path, capsys):
    """Full EP1 user experience: ETL + analysis block + CSV + chart
    (reference etl_pipeline.py:150-172)."""
    from world_vaccination_coverage_etl_spark.cli import main

    csv = _write_wide_csv(tmp_path / "wide.csv", WIDE_ROWS)
    # a Spark output directory left by an earlier release is replaced
    series_csv = tmp_path / "coverage_Aland_coverage__bcg.csv"
    series_csv.mkdir()
    (series_csv / "part-00000.csv").write_text("stale\n")

    rc = main(
        [
            "--csv", str(csv),
            "--warehouse", str(tmp_path / "warehouse"),
            "--country", "Aland",
            "--antigen", "coverage__bcg",
            "--start-year", "1991",
            "--pre-years", "1",
            "--post-years", "1",
            "--out-dir", str(tmp_path),
        ]
    )
    assert rc == 0
    assert f"ETL complete: 5 clean rows -> {tmp_path / 'warehouse'}" in capsys.readouterr().out
    assert series_csv.is_file()
    assert series_csv.read_text().splitlines() == [
        "year,coverage_pct", "1990,70.0", "1991,72.0",
    ]
    chart = tmp_path / "coverage_Aland_coverage__bcg.svg"
    assert chart.exists()
    svg = chart.read_text()
    assert "<polyline" in svg and "campaign 1991" in svg
    pdf = tmp_path / "coverage_Aland_coverage__bcg.pdf"
    assert pdf.exists()
    raw = pdf.read_bytes()
    assert raw.startswith(b"%PDF") and b"Generated:" in raw
    dash = tmp_path / "coverage_Aland_coverage__bcg.html"
    assert dash.exists()
    doc = dash.read_text()
    assert doc.startswith("<!DOCTYPE html>")
    assert "Vaccination coverage — Aland / coverage__bcg" in doc
    assert doc.count("<svg") == 2          # line chart + CI bars, inline
    assert "Policy brief" in doc and 'class="kpi"' in doc
    assert "fill-opacity" in doc           # shaded campaign windows


def test_read_wide_csv_strings_runs_no_job(spark, tmp_path):
    """A local file's header is read without a Spark job; a directory
    falls back to Spark's header read.  Both give all-string columns
    named like Spark's own header read."""
    from world_vaccination_coverage_etl_spark.sources.csv_source import read_wide_csv_strings

    csv = _write_wide_csv(tmp_path / "wide.csv", WIDE_ROWS)
    sc = spark.sparkContext
    sc.setJobGroup("csv-header", "header read")
    try:
        local = read_wide_csv_strings(spark, str(csv))
        assert sc.statusTracker().getJobIdsForGroup("csv-header") == []
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    spark_read = spark.read.option("header", True).csv(str(csv))
    assert local.dtypes == spark_read.dtypes == [(c, "string") for c in spark_read.columns]
    assert read_wide_csv_strings(spark, str(tmp_path)).dtypes == spark_read.dtypes
    assert sorted(local.collect()) == sorted(spark_read.collect())


def test_stage_csv_passes_local_path_through(tmp_path):
    from world_vaccination_coverage_etl_spark.sources.csv_source import stage_csv

    local = str(tmp_path / "wide.csv")
    assert stage_csv(local) == local


def test_stage_csv_downloads_http_url(tmp_path):
    import functools
    import threading
    from http.server import SimpleHTTPRequestHandler, ThreadingHTTPServer

    from world_vaccination_coverage_etl_spark.sources.csv_source import stage_csv

    body = "entity,year,coverage__bcg\nAland,1991,72.0\n"
    (tmp_path / "wide.csv").write_text(body)

    class Quiet(SimpleHTTPRequestHandler):
        def log_message(self, *args):
            pass

    server = ThreadingHTTPServer(
        ("127.0.0.1", 0), functools.partial(Quiet, directory=str(tmp_path))
    )
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}/wide.csv"
        staged = stage_csv(url)
    finally:
        server.shutdown()
        server.server_close()
    assert staged != url and not staged.startswith(str(tmp_path))
    with open(staged) as fh:
        assert fh.read() == body


def test_default_cpus_is_usable_core_count(monkeypatch):
    import os

    from world_vaccination_coverage_etl_spark.session import default_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_session_turns_console_progress_off(spark):
    """`get_spark` sessions print no stage progress bars."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"
