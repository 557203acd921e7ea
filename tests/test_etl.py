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

WIDE_ROWS = [
    # Entity (case-variant header below), year, bcg, dtp3, unrelated
    ("Aland", 1975, 50.0, 60.0, "x"),     # outside clamp -> dropped
    ("Aland", 1990, 70.0, None, "x"),     # null dtp3 dropped by melt
    ("Aland", 1991, 72.0, 75.0, "x"),
    ("Aland", 1992, None, None, "x"),     # all-null year -> no rows
    ("Borland", 1990, 88.0, 90.0, "y"),
    ("Borland", 2105, 99.0, 99.0, "y"),   # outside clamp -> dropped
]


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
    rows = {(r.country, r.antigen, r.year) for r in tidy.collect()}
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
    csv = tmp_path / "wide.csv"
    header = "entity,year,coverage__bcg,coverage__dtp3,unrelated_col\n"
    lines = [
        ",".join("" if v is None else str(v) for v in row) for row in WIDE_ROWS
    ]
    csv.write_text(header + "\n".join(lines) + "\n")

    clean = run_etl(spark, str(csv), str(tmp_path / "warehouse"))
    assert clean.count() == 5
    assert {f.name for f in clean.schema.fields} == {
        "country", "antigen", "year", "coverage_pct",
    }
    # partitioned by antigen on disk
    parts = {p.name for p in (tmp_path / "warehouse" / "immunization").iterdir()}
    assert any(p.startswith("antigen=") for p in parts)
    raw = spark.read.parquet(str(tmp_path / "warehouse" / "owid_raw"))
    assert raw.count() == len(WIDE_ROWS)


def test_cli_main_writes_csv_and_chart_artifacts(spark, tmp_path):
    """Full EP1 user experience: ETL + analysis block + CSV + chart
    (reference etl_pipeline.py:150-172)."""
    from world_vaccination_coverage_etl_spark.cli import main

    csv = tmp_path / "wide.csv"
    header = "entity,year,coverage__bcg,coverage__dtp3,unrelated_col\n"
    lines = [
        ",".join("" if v is None else str(v) for v in row) for row in WIDE_ROWS
    ]
    csv.write_text(header + "\n".join(lines) + "\n")

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
    assert (tmp_path / "coverage_Aland_coverage__bcg.csv").exists()
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
