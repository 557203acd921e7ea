"""CLI entry point: batch ETL + optional before/after campaign analysis.

Spark-native equivalent of the reference's ``python etl_pipeline.py``
(SURVEY.md §3 EP1; reference etl_pipeline.py:184-195): always run the
ETL and print its counts from the run manifest, then — when
``--country``/``--antigen`` are given — collect that series once,
compute the windowed comparison from the collected rows
(functions/stats.py ``series_window_stats``), print the analysis
block, and save the raw-series CSV (one file, written with the stdlib
``csv`` module from the collected rows) + chart + PDF-report artifacts
(functions/chart.py — an SVG; functions/report.py — a dependency-free
minimal PDF).  Together these complete the reference EP1 artifact set
(CSV + plot + report).

Usage::

    python -m world_vaccination_coverage_etl_spark \
        --csv data.csv --warehouse ./warehouse \
        [--country Aland --antigen coverage__bcg \
         --start-year 2017 --pre-years 5 --post-years 5 --out-dir .]
"""

from __future__ import annotations

import argparse
import csv
import os
import shutil
import sys

from pyspark.sql import SparkSession

from .functions.chart import save_series_chart
from .functions.dashboard import save_dashboard_html
from .functions.narrative import policy_brief
from .functions.report import save_pdf_report
from .functions.stats import series_window_stats
from .plans.analytics import coverage_series
from .plans.pipeline import read_run_manifest, run_etl
from .session import get_spark
from .sources.csv_source import stage_csv
from .sources.sinks import sanitize_filename


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Vaccination-coverage ETL & analysis (PySpark)")
    p.add_argument("--csv", required=True, help="wide CSV path or http(s) URL")
    p.add_argument("--warehouse", default="./warehouse", help="parquet warehouse dir")
    p.add_argument("--country", type=str, help="country to analyze (optional)")
    p.add_argument("--antigen", type=str, help="antigen code to analyze (optional)")
    p.add_argument("--start-year", type=int, default=2017, help="campaign start year")
    p.add_argument("--pre-years", type=int, default=5, help="years before campaign")
    p.add_argument("--post-years", type=int, default=5, help="years after campaign")
    p.add_argument("--out-dir", default=".", help="artifact output dir")
    return p.parse_args(argv)


def run_analysis(
    spark: SparkSession,
    clean,
    country: str,
    antigen: str,
    start_year: int,
    pre_years: int,
    post_years: int,
    out_dir: str,
) -> bool:
    """Print the analysis block for one series; save the CSV artifact.

    Returns False when the series is empty (reference
    etl_pipeline.py:120-122 warns and stops)."""
    series = coverage_series(clean, country, antigen)
    series_rows = [(r.year, r.coverage_pct) for r in series.collect()]
    if not series_rows:
        print(f"WARNING: no data found for {country} / {antigen}")
        return False

    one = series_window_stats(series_rows, start_year, pre_years, post_years)

    print(f"\nAnalysis for {country} / {antigen}")
    print(
        f"  Period: {start_year - pre_years}-{start_year - 1} "
        f"vs {start_year}-{start_year + post_years}"
    )
    if one.n_before > 1 and one.n_after > 1:
        print(f"  t-statistic = {one.t_stat:.3f}")
        print(f"  p-value     = {one.p_value:.5f}")
        print(
            f"  Avg Before = {one.avg_before:.1f}% "
            f"(95% CI: {one.ci_lo_before:.1f}-{one.ci_hi_before:.1f})"
        )
        print(
            f"  Avg After  = {one.avg_after:.1f}% "
            f"(95% CI: {one.ci_lo_after:.1f}-{one.ci_hi_after:.1f})"
        )
        print(f"  Difference = {one.diff_pp:+.1f} percentage points")
        print(f"  Verdict    = {one.significance}")
    else:
        print("  WARNING: not enough data points for a before/after t-test")

    risk, implication, action = policy_brief(
        one.avg_before, one.avg_after, one.diff_pp, one.p_value,
        one.n_before, one.n_after,
    )
    print(f"  Risk        : {risk}")
    print(f"  Implication : {implication}")
    print(f"  Action      : {action}")

    artifact = os.path.join(
        out_dir, sanitize_filename(f"coverage_{country}_{antigen}") + ".csv"
    )
    if os.path.isdir(artifact):
        # earlier releases wrote this artifact as a Spark output directory
        shutil.rmtree(artifact)
    with open(artifact, "w", newline="") as fh:
        writer = csv.writer(fh)
        writer.writerow(("year", "coverage_pct"))
        writer.writerows(series_rows)
    print(f"  Saved raw series -> {artifact}")

    # chart artifact (reference etl_pipeline.py:157-172) — rendered from
    # the already-collected ≤46-row series at the presentation edge
    chart_base = os.path.join(
        out_dir, sanitize_filename(f"coverage_{country}_{antigen}")
    )
    chart_path = save_series_chart(
        series_rows,
        chart_base,
        title=f"{country} — {antigen}",
        campaign_year=start_year,
    )
    print(f"  Saved chart      -> {chart_path}")

    # PDF report (reference report_generator.py): summary + top-20 table
    report_path = save_pdf_report(
        chart_base + ".pdf",
        title=f"Vaccination coverage report: {country} / {antigen}",
        summary=[
            f"Campaign window: {start_year - pre_years}-{start_year - 1} "
            f"vs {start_year}-{start_year + post_years}",
            f"Average before: {one.avg_before:.1f}%"
            if one.avg_before is not None else "Average before: n/a",
            f"Average after:  {one.avg_after:.1f}%"
            if one.avg_after is not None else "Average after: n/a",
            f"Verdict: {one.significance}",
            f"Risk: {risk}",
            f"Implication: {implication}",
            f"Action: {action}",
        ],
        table_rows=[(year, f"{cov:.1f}") for year, cov in series_rows],
        table_header=("year", "coverage_pct"),
        cover_subtitle="Policy report for country vaccination coverage monitoring",
        cover_context=[f"Country: {country}", f"Antigen: {antigen}"],
        series=series_rows,
        campaign_year=start_year,
    )
    print(f"  Saved report     -> {report_path}")

    # static HTML dashboard (reference streamlit_app.py:176-505 as an
    # export: KPI cards, shaded-window line chart, CI bars, brief)
    dash_path = save_dashboard_html(
        chart_base + ".html",
        country,
        antigen,
        series_rows,
        one,
        start_year,
        pre_years,
        post_years,
    )
    print(f"  Saved dashboard  -> {dash_path}")
    return True


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    spark = get_spark("world_vaccination_coverage_etl_cli")

    clean = run_etl(spark, stage_csv(args.csv), args.warehouse)
    counts = read_run_manifest(args.warehouse)["counts"]
    print(f"ETL complete: {counts['rows_written']} clean rows -> {args.warehouse}")
    print("  " + ", ".join(f"{k}={v}" for k, v in counts.items()))

    if args.country and args.antigen:
        ok = run_analysis(
            spark, clean, args.country, args.antigen,
            args.start_year, args.pre_years, args.post_years, args.out_dir,
        )
        return 0 if ok else 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
