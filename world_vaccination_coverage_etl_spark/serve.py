"""Interactive dashboard server — the reference's widget → query loop
without Streamlit.

The reference serves an interactive explorer (streamlit_app.py:135-191:
country/antigen selectboxes fed by the dimension index, every widget
change runs one indexed series lookup, then computes the Welch test and
CIs in-process on that short series — streamlit_app.py:317-342).
Streamlit doesn't exist in this environment, so this module provides
the same interaction loop over stdlib ``http.server``:

- ``GET /``                     — picker page listing the (country,
  antigen) dimension index (plans/analytics.py cached_dimension_index,
  the same session-cached index the reference's selectboxes read);
- ``GET /dashboard?country=..&antigen=..&start_year=..&pre_years=..&
  post_years=..`` — runs the parameterized ``coverage_series`` plan
  (one Spark action, the ≤46-row series collect), computes the
  before/after window block from those rows with
  functions/stats.py ``series_window_stats`` (the same statistics as
  the grouped ``window_compare`` plan), and renders
  functions/dashboard.py's HTML (KPI cards, shaded-window chart, CI
  bars, policy brief).

The server is single-Spark-session, multi-request; Spark actions are
serialized by the app lock, which is held only around the series
collect — the window statistics and the render run outside it.

Usage::

    python -m world_vaccination_coverage_etl_spark.serve \
        --csv data.csv --warehouse ./warehouse [--port 8099]
"""

from __future__ import annotations

import html
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession

from .functions.dashboard import render_dashboard_html
from .functions.stats import series_window_stats
from .plans.analytics import (
    cached_dimension_index,
    coverage_series,
    # not called here; kept because perfbench/spans.py wraps serve.window_compare by name
    window_compare,  # noqa: F401
)


def _picker_html(pairs: list[tuple[str, str]]) -> str:
    opts = "\n".join(
        f'<li><a href="/dashboard?country={urllib.parse.quote(c)}'
        f'&antigen={urllib.parse.quote(a)}">{html.escape(c)} — '
        f"{html.escape(a)}</a></li>"
        for c, a in pairs
    )
    return (
        "<!DOCTYPE html><html><head><meta charset='utf-8'>"
        "<title>coverage explorer</title></head><body>"
        "<h1>Vaccination coverage explorer</h1>"
        f"<p>{len(pairs)} (country, antigen) series in the warehouse — "
        "pick one (add &start_year=/&pre_years=/&post_years= to tune "
        "the campaign window):</p>"
        f"<ul>{opts}</ul></body></html>"
    )


class DashboardApp:
    """Request → one parameterized Spark query → in-process window
    statistics → HTML render."""

    def __init__(self, spark: SparkSession, clean: DataFrame):
        self.spark = spark
        self.clean = clean
        self._lock = threading.Lock()

    def index_page(self) -> str:
        with self._lock:
            pairs = [
                (r["country"], r["antigen"])
                for r in cached_dimension_index(self.clean).collect()
            ]
        return _picker_html(pairs)

    def dashboard_page(self, params: dict[str, list[str]]) -> tuple[int, str]:
        def one(name: str, default: int) -> int:
            try:
                return int(params.get(name, [default])[0])
            except ValueError:
                return default

        country = params.get("country", [""])[0]
        antigen = params.get("antigen", [""])[0]
        start_year = one("start_year", 2017)
        pre_years = one("pre_years", 5)
        post_years = one("post_years", 5)
        if not country or not antigen:
            return 400, "<h1>400</h1><p>country and antigen are required</p>"
        with self._lock:
            series_rows = [
                (r["year"], r["coverage_pct"])
                for r in coverage_series(self.clean, country, antigen).collect()
            ]
        if not series_rows:
            return (
                404,
                f"<h1>404</h1><p>no data for {html.escape(country)} / "
                f"{html.escape(antigen)}</p>",
            )
        stats = series_window_stats(series_rows, start_year, pre_years, post_years)
        return 200, render_dashboard_html(
            country, antigen, series_rows, stats, start_year, pre_years, post_years
        )


def make_server(app: DashboardApp, port: int = 0) -> ThreadingHTTPServer:
    """Bind (port 0 = ephemeral) and return the server; callers drive
    ``serve_forever``/``handle_request`` and ``server_close``."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802  (BaseHTTPRequestHandler API)
            parsed = urllib.parse.urlparse(self.path)
            if parsed.path == "/":
                status, body = 200, app.index_page()
            elif parsed.path == "/dashboard":
                status, body = app.dashboard_page(
                    urllib.parse.parse_qs(parsed.query)
                )
            else:
                status, body = 404, "<h1>404</h1>"
            data = body.encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):  # quiet test runs
            pass

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)


def main(argv: list[str] | None = None) -> int:
    import argparse

    from .plans.pipeline import run_etl
    from .session import get_spark
    from .sources.csv_source import stage_csv

    p = argparse.ArgumentParser(description="coverage dashboard server")
    p.add_argument("--csv", required=True, help="wide CSV path or http(s) URL")
    p.add_argument("--warehouse", default="./warehouse")
    p.add_argument("--port", type=int, default=8099)
    args = p.parse_args(argv)

    spark = get_spark("coverage-dashboard")
    clean = run_etl(spark, stage_csv(args.csv), args.warehouse)
    server = make_server(DashboardApp(spark, clean), args.port)
    print(f"serving on http://127.0.0.1:{server.server_address[1]}/")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
