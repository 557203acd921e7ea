"""Interactive serving loop tests (serve.py) — the widget → query →
render loop the reference runs in Streamlit, here over stdlib HTTP."""

from __future__ import annotations

import threading
import urllib.request
from contextlib import contextmanager

import pytest

from world_vaccination_coverage_etl_spark import serve
from world_vaccination_coverage_etl_spark.serve import DashboardApp, make_server

WIDE_ROWS = [
    ("Aland", y, 60.0 + i * 2.0, 70.0 + i)
    for i, y in enumerate(range(2010, 2023))
] + [
    ("Borland", y, 50.0 + i, None)
    for i, y in enumerate(range(2012, 2022))
]


@pytest.fixture(scope="module")
def clean(spark):
    from world_vaccination_coverage_etl_spark.plans.pipeline import (
        clean_immunization,
        melt_wide_to_tidy,
    )

    wide = spark.createDataFrame(
        WIDE_ROWS,
        schema="Entity string, year int, coverage__bcg double, "
        "coverage__dtp3 double",
    )
    return clean_immunization(melt_wide_to_tidy(wide))


@contextmanager
def _serving(app: DashboardApp):
    """Serve `app` on an ephemeral port; yields the base URL."""
    server = make_server(app, port=0)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{server.server_address[1]}"
    finally:
        server.shutdown()
        server.server_close()


@pytest.fixture(scope="module")
def served(spark, clean):
    """The snapshot serving path.  test_serve_spark_path.py runs the
    page tests below again on the Spark path."""
    app = DashboardApp(spark, clean)
    assert app._snapshot is not None
    with _serving(app) as base:
        yield base


def _get(url: str) -> tuple[int, str]:
    # on the Spark path each request runs a Spark job in its handler
    # thread; under a saturated host (e.g. a concurrent 32-core sweep)
    # a single attempt can exceed any fixed budget — retry with a
    # generous per-attempt timeout so load cannot fail a correctness
    # test (r10 verdict item 7)
    last: Exception | None = None
    for _ in range(3):
        try:
            with urllib.request.urlopen(url, timeout=120) as resp:
                return resp.status, resp.read().decode("utf-8")
        except urllib.error.HTTPError as e:  # 4xx still carries a body
            return e.code, e.read().decode("utf-8")
        except (TimeoutError, urllib.error.URLError) as e:
            last = e
    raise AssertionError(f"request kept timing out: {url}") from last


def _write_csv(path, rows) -> None:
    path.write_text(
        "entity,year,coverage__bcg,coverage__dtp3\n"
        + "\n".join(",".join("" if v is None else str(v) for v in row) for row in rows)
        + "\n"
    )


def test_index_lists_dimension_pairs(served):
    status, body = _get(served + "/")
    assert status == 200
    assert "Aland" in body and "Borland" in body
    assert "coverage__bcg" in body and "coverage__dtp3" in body


def test_dashboard_runs_parameterized_query(served):
    status, body = _get(
        served + "/dashboard?country=Aland&antigen=coverage__bcg"
        "&start_year=2017&pre_years=5&post_years=5"
    )
    assert status == 200
    assert "Aland" in body and "coverage__bcg" in body
    assert "Policy brief" in body and "<svg" in body


def test_dashboard_params_change_result(served):
    # interaction: switching the antigen widget re-runs the query and
    # produces a different document
    _, bcg = _get(served + "/dashboard?country=Aland&antigen=coverage__bcg")
    _, dtp3 = _get(served + "/dashboard?country=Aland&antigen=coverage__dtp3")
    assert bcg != dtp3
    assert "coverage__dtp3" in dtp3 and "coverage__dtp3" not in bcg


@pytest.mark.parametrize(
    "country,antigen,window",
    [("Aland", "coverage__bcg", (2017, 5, 5)),
     ("Aland", "coverage__dtp3", (2014, 3, 2)),
     ("Borland", "coverage__bcg", (2012, 2, 2))],
)
def test_dashboard_kpis_equal_window_compare(served, clean, country, antigen, window):
    """The served KPIs, computed in-process from the collected series,
    read the same as the grouped window_compare plan's row."""
    from world_vaccination_coverage_etl_spark.functions.dashboard import _fmt, _kpi
    from world_vaccination_coverage_etl_spark.plans.analytics import window_compare

    start, pre, post = window
    want = window_compare(
        clean.filter((clean.country == country) & (clean.antigen == antigen)),
        start, pre, post,
    ).collect()[0]
    status, body = _get(
        served + f"/dashboard?country={country}&antigen={antigen}"
        f"&start_year={start}&pre_years={pre}&post_years={post}"
    )
    assert status == 200
    assert _kpi("avg before", _fmt(want.avg_before, "%")) in body
    assert _kpi("avg after", _fmt(want.avg_after, "%")) in body
    assert _kpi("p-value", _fmt(want.p_value, "", 4)) in body


def test_serve_main_builds_warehouse_and_serves(spark, tmp_path, monkeypatch, capsys):
    from http.server import ThreadingHTTPServer

    def stop(self, *a, **k):
        raise KeyboardInterrupt

    monkeypatch.setattr(ThreadingHTTPServer, "serve_forever", stop)
    csv = tmp_path / "wide.csv"
    _write_csv(csv, WIDE_ROWS)
    rc = serve.main(
        ["--csv", str(csv), "--warehouse", str(tmp_path / "wh"), "--port", "0"]
    )
    assert rc == 0
    assert "serving on http://127.0.0.1:" in capsys.readouterr().out
    assert (tmp_path / "wh" / "immunization").is_dir()


def test_dashboard_missing_series_404(served):
    status, body = _get(served + "/dashboard?country=Nowhere&antigen=coverage__bcg")
    assert status == 404 and "no data" in body


def test_dashboard_requires_params(served):
    status, _ = _get(served + "/dashboard")
    assert status == 400


@pytest.mark.parametrize(
    "name,value",
    [
        # too large for the chart's float()
        pytest.param("start_year", "9" * 400, id="start_year-400-digits"),
        ("start_year", "0"),
        ("start_year", "10000"),
        ("start_year", "20l7"),
        pytest.param("pre_years", "9" * 400, id="pre_years-400-digits"),
        ("pre_years", "-1"),
        ("post_years", "201"),
    ],
)
def test_dashboard_rejects_out_of_range_window(served, name, value):
    base = served + "/dashboard?country=Aland&antigen=coverage__bcg"
    status, body = _get(f"{base}&{name}={value}")
    assert status == 400
    assert f"{name} must be an integer in" in body


@pytest.mark.parametrize("window", ["start_year=9999&pre_years=200&post_years=200",
                                    "start_year=1&pre_years=0&post_years=0"])
def test_dashboard_serves_window_range_ends(served, window):
    status, _ = _get(served + "/dashboard?country=Aland&antigen=coverage__bcg&" + window)
    assert status == 200


def test_snapshot_path_runs_no_spark_query(spark, clean, monkeypatch):
    app = DashboardApp(spark, clean)
    assert app._snapshot is not None

    def no_spark(*a, **k):
        raise AssertionError("a snapshot request ran a Spark query")

    monkeypatch.setattr(serve, "coverage_series", no_spark)
    monkeypatch.setattr(serve, "cached_dimension_index", no_spark)
    with _serving(app) as base:
        status, body = _get(base + "/")
        assert status == 200 and "Borland" in body
        status, body = _get(base + "/dashboard?country=Aland&antigen=coverage__dtp3")
        assert status == 200 and "Policy brief" in body
        assert _get(base + "/dashboard?country=Nowhere&antigen=coverage__bcg")[0] == 404
        assert _get(base + "/dashboard?country=Aland")[0] == 400


def test_snapshot_request_runs_in_the_serving_thread(spark, clean, monkeypatch):
    monkeypatch.setattr(serve, "READY_WAIT_S", 60.0)  # a slow host still sends in time
    app = DashboardApp(spark, clean)
    seen: list[threading.Thread] = []
    index_page = app.index_page

    def recorded():
        seen.append(threading.current_thread())
        return index_page()

    app.index_page = recorded
    server = make_server(app, port=0)
    serving = threading.Thread(target=server.serve_forever, daemon=True)
    serving.start()
    try:
        status, _ = _get(f"http://127.0.0.1:{server.server_address[1]}/")
    finally:
        server.shutdown()
        server.server_close()
    assert status == 200 and seen == [serving]


def test_silent_connection_does_not_stall_snapshot_server(spark, clean):
    """A connection that sends nothing (a browser's speculative
    preconnect) gets its own thread; later requests are still served."""
    import socket

    app = DashboardApp(spark, clean)
    with _serving(app) as base:
        port = int(base.rsplit(":", 1)[1])
        with socket.create_connection(("127.0.0.1", port)):
            with urllib.request.urlopen(base + "/", timeout=30) as resp:
                assert resp.status == 200 and "Borland" in resp.read().decode("utf-8")


def test_app_keeps_serving_its_snapshot_after_refresh(spark, tmp_path):
    """An app serves the table as it was when it was constructed: a
    refresh that overwrites the warehouse in place leaves it serving
    the old values, and a new app serves the new ones."""
    from world_vaccination_coverage_etl_spark.functions.dashboard import _fmt, _kpi
    from world_vaccination_coverage_etl_spark.functions.stats import series_window_stats
    from world_vaccination_coverage_etl_spark.plans.pipeline import run_etl

    rows_b = [(c, y, bcg + 10.0, dtp3) for c, y, bcg, dtp3 in WIDE_ROWS]
    csv_a, csv_b, wh = tmp_path / "a.csv", tmp_path / "b.csv", str(tmp_path / "wh")
    _write_csv(csv_a, WIDE_ROWS)
    _write_csv(csv_b, rows_b)

    def kpis(rows) -> list[str]:
        series = [(y, bcg) for c, y, bcg, _ in rows if c == "Aland"]
        stats = series_window_stats(series, 2017, 5, 5)
        return [
            _kpi("latest coverage (2022)", _fmt(series[-1][1], "%")),
            _kpi("avg before", _fmt(stats.avg_before, "%")),
            _kpi("avg after", _fmt(stats.avg_after, "%")),
        ]

    url = "/dashboard?country=Aland&antigen=coverage__bcg&start_year=2017"
    app_a = DashboardApp(spark, run_etl(spark, str(csv_a), wh))
    app_b = DashboardApp(spark, run_etl(spark, str(csv_b), wh))
    for app, rows in ((app_a, WIDE_ROWS), (app_b, rows_b)):
        with _serving(app) as base:
            status, body = _get(base + url)
        assert status == 200
        for kpi in kpis(rows):
            assert kpi in body


def test_interactive_series_html_fragment():
    """The plotly-parity surface (reference streamlit_app.py:254-308):
    static SVG marks identical to _svg_chart, embedded JSON data, and
    the vanilla-JS hover/zoom/pan/reset handlers."""
    import json

    from world_vaccination_coverage_etl_spark.functions.chart import (
        _svg_chart,
        interactive_series_html,
    )

    pts = [(2000, 80.0), (2001, 85.5), (2002, 70.25)]
    wins = [(2000, 2001, "#1f77b4"), (2001, 2002, "#ff7f0e")]
    frag = interactive_series_html(
        pts, "A <Title> & more", campaign_year=2001, windows=wins
    )
    # every static mark of the non-interactive renderer is present
    static = _svg_chart(
        [(float(x), float(y)) for x, y in pts],
        "A <Title> & more", 2001.0, 720, 360, wins,
    )
    inner = static[static.index(">") + 1 : static.rindex("</svg>")]
    assert inner in frag
    # embedded data round-trips
    import html as _html
    import re

    m = re.search(r"data-chart='([^']*)'", frag)
    cfg = json.loads(_html.unescape(m.group(1)))
    assert cfg["points"] == [[2000.0, 80.0], [2001.0, 85.5], [2002.0, 70.25]]
    assert cfg["campaign"] == 2001 and len(cfg["windows"]) == 2
    assert "&lt;Title&gt;" in cfg["title"]  # escaped before JS innerHTML
    # the interaction handlers ship
    for hook in ("mousemove", "wheel", "mousedown", "dblclick", "hovtx"):
        assert hook in frag
    # empty series still guarded
    import pytest as _pytest

    with _pytest.raises(ValueError):
        interactive_series_html([])


def test_dashboard_embeds_interactive_chart(tmp_path):
    from types import SimpleNamespace

    from world_vaccination_coverage_etl_spark.functions.dashboard import (
        render_dashboard_html,
    )

    stats = SimpleNamespace(
        avg_before=80.0, avg_after=85.0, diff_pp=5.0, p_value=0.01,
        n_before=5, n_after=5, significance="significant increase",
        ci_lo_before=78.0, ci_hi_before=82.0, ci_lo_after=83.0,
        ci_hi_after=87.0, sem_before=1.0, sem_after=1.0,
    )
    body = render_dashboard_html(
        "Testland", "DTP3", [(y, 80.0 + y % 5) for y in range(1998, 2008)],
        stats, start_year=2003, pre_years=5, post_years=4,
    )
    assert "data-chart=" in body and "<script>" in body
    assert "dblclick" in body  # zoom-reset handler shipped
