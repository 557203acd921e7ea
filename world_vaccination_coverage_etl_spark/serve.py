"""Interactive dashboard server — the reference's widget → query loop
without Streamlit.

The reference serves an interactive explorer (streamlit_app.py:135-191:
country/antigen selectboxes fed by the dimension index, every widget
change runs one indexed series lookup, then computes the Welch test and
CIs in-process on that short series — streamlit_app.py:317-342), and
caches what it loads (``st.cache_data``, streamlit_app.py:99,111).
Streamlit doesn't exist in this environment, so this module provides
the same interaction loop over stdlib ``http.server``.

A ``DashboardApp`` takes one snapshot of the clean table when it is
constructed (plans/analytics.py ``series_snapshot``: one Spark action,
every (country, antigen) series held on the driver), and renders the
picker page from it once.  Requests then read the snapshot:

- ``GET /``                     — the picker page listing the
  (country, antigen) dimension index;
- ``GET /dashboard?country=..&antigen=..&start_year=..&pre_years=..&
  post_years=..`` — looks up the pair's ≤121-row series (one row per
  year of the clean table's [1980, 2100] clamp), computes the
  before/after window block from those rows with functions/stats.py
  ``series_window_stats`` (the same statistics as the grouped
  ``window_compare`` plan), and renders functions/dashboard.py's HTML
  (KPI cards, shaded-window chart, CI bars, policy brief).  A window
  parameter that is not an integer in its ``WINDOW_PARAMS`` range gets
  a 400.

On the snapshot path a request takes no lock and runs no Spark job,
and the server handles it in its own serving thread once the request
has arrived (``make_server``).
An app serves the table as it was when the app was constructed, so it
is isolated from a refresh that overwrites the warehouse in place; a
refreshed warehouse needs a new ``DashboardApp``.

A table above ``SNAPSHOT_MAX_ROWS`` rows is served from Spark instead:
``GET /`` reads ``cached_dimension_index`` and each dashboard request
collects the parameterized ``coverage_series`` plan (one Spark job).
The app lock serializes those Spark actions; the window statistics and
the render run outside it.

Usage::

    python -m world_vaccination_coverage_etl_spark.serve \
        --csv data.csv --warehouse ./warehouse [--port 8099]
"""

from __future__ import annotations

import html
import select
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession

from .functions.dashboard import render_dashboard_html
from .functions.stats import series_window_stats
from .plans.analytics import (
    cached_dimension_index,
    coverage_series,
    series_snapshot,
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


# The campaign-window query parameters: name -> (default, lowest,
# highest).  A value that is not an integer in its range gets a 400; a
# huge one would otherwise overflow the chart's float conversion
# mid-render.
WINDOW_PARAMS = {
    "start_year": (2017, 1, 9999),
    "pre_years": (5, 0, 200),
    "post_years": (5, 0, 200),
}


class DashboardApp:
    """Request → series lookup → in-process window statistics → HTML
    render, over a snapshot of ``clean`` taken at construction (or, for
    a table above ``SNAPSHOT_MAX_ROWS`` rows, one Spark query per
    request under the app lock)."""

    def __init__(self, spark: SparkSession, clean: DataFrame):
        self.spark = spark
        self.clean = clean
        self._lock = threading.Lock()
        self._snapshot = series_snapshot(clean)
        if self._snapshot is not None:
            self._index_html = _picker_html(self._snapshot.pairs)

    def index_page(self) -> str:
        if self._snapshot is not None:
            return self._index_html
        with self._lock:
            pairs = [
                (r["country"], r["antigen"])
                for r in cached_dimension_index(self.clean).collect()
            ]
        return _picker_html(pairs)

    def dashboard_page(self, params: dict[str, list[str]]) -> tuple[int, str]:
        country = params.get("country", [""])[0]
        antigen = params.get("antigen", [""])[0]
        if not country or not antigen:
            return 400, "<h1>400</h1><p>country and antigen are required</p>"
        window = []
        for name, (default, lo, hi) in WINDOW_PARAMS.items():
            try:
                value = int(params.get(name, [default])[0])
            except ValueError:
                value = None
            if value is None or not lo <= value <= hi:
                return 400, f"<h1>400</h1><p>{name} must be an integer in [{lo}, {hi}]</p>"
            window.append(value)
        start_year, pre_years, post_years = window
        if self._snapshot is not None:
            series_rows = self._snapshot.rows(country, antigen)
        else:
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


# How long the serving thread waits for a new connection's request
# before handing the connection to a thread of its own.
READY_WAIT_S = 0.05


def make_server(app: DashboardApp, port: int = 0) -> ThreadingHTTPServer:
    """Bind (port 0 = ephemeral) and return the server; callers drive
    ``serve_forever``/``handle_request`` and ``server_close``.

    On the snapshot path a request is a few ms of pure-Python work under
    the GIL, so a thread per request adds only a thread start and GIL
    hand-offs between handlers, and those make throughput depend on how
    fast the OS wakes each thread.  The serving thread therefore handles
    a connection itself once its request has arrived (within
    ``READY_WAIT_S``).  A connection that stays silent that long (a
    browser's speculative preconnect) gets its own thread, as every
    connection does on the Spark path, so it delays the others by at
    most ``READY_WAIT_S``."""

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

    class Server(ThreadingHTTPServer):
        def process_request(self, request, client_address):
            if app._snapshot is not None and select.select(
                [request], [], [], READY_WAIT_S
            )[0]:
                self.finish_request(request, client_address)
                self.shutdown_request(request)
            else:
                super().process_request(request, client_address)

    return Server(("127.0.0.1", port), Handler)


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
