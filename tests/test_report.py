"""PDF report + SVG chart artifact tests (functions/report.py, chart.py)."""

from __future__ import annotations

import datetime as dt

import pytest

from world_vaccination_coverage_etl_spark.functions.chart import save_series_chart
from world_vaccination_coverage_etl_spark.functions.report import (
    render_pdf_pages,
    report_lines,
    save_pdf_report,
)


def test_render_pdf_structure():
    data = render_pdf_pages([["hello", "world"]])
    assert data.startswith(b"%PDF-1.4")
    assert data.rstrip().endswith(b"%%EOF")
    assert b"/Type /Catalog" in data and b"/Type /Page " in data
    assert b"(hello) Tj" in data and b"(world) Tj" in data
    # xref offsets must point at the objects they index
    lines = data.split(b"\n")
    xref_start = lines.index(b"xref")
    offsets = [int(x.split()[0]) for x in lines[xref_start + 2 :] if x.endswith(b"n ")]
    for i, off in enumerate(offsets, start=1):
        assert data[off:].startswith(f"{i} 0 obj".encode())


def test_render_pdf_escapes_and_paginates(tmp_path):
    data = render_pdf_pages([[r"paren (x) and \ backslash"]])
    assert rb"(paren \(x\) and \\ backslash) Tj" in data
    pdf = save_pdf_report(
        str(tmp_path / "r.pdf"), "T", [f"row {i}" for i in range(120)],
        today=dt.date(2026, 8, 13),
    )
    # cover + 123 body lines (title, date, blank, 120 rows) / 54 per page
    assert open(pdf, "rb").read().count(b"/Type /Page ") == 4


def test_report_lines_layout_and_caps():
    lines = report_lines(
        "Title",
        ["para one"],
        table_rows=[(y, y * 1.5) for y in range(30)],
        table_header=("year", "cov"),
        today=dt.date(2026, 8, 13),
    )
    assert lines[0] == "Title"
    assert lines[1] == "Generated: 2026-08-13"  # date_today stamp
    assert "para one" in lines
    header_at = lines.index("year  cov")
    assert len(lines) - (header_at + 2) == 20  # top-20 cap


def test_save_pdf_report_and_chart(tmp_path):
    pdf = save_pdf_report(
        str(tmp_path / "r.pdf"), "T", ["s"], [(2020, 10.0)], ("year", "cov"),
        cover_subtitle="Policy report", cover_context=["Country: X"],
    )
    raw = open(pdf, "rb").read()
    assert raw.startswith(b"%PDF") and b"Generated:" in raw
    # reference parity: page 1 is a dedicated cover, page 2+ the body
    # (report_generator.py:38-55 cover + :147-153 merge)
    assert raw.count(b"/Type /Page ") == 2
    assert b"(Policy report) Tj" in raw and b"(Country: X) Tj" in raw
    assert b"Generated on:" in raw

    svg = save_series_chart(
        [(2020, 10.0), (2021, 12.5)], str(tmp_path / "c"), "t", campaign_year=2021
    )
    text = open(svg).read()
    assert "<polyline" in text and "campaign 2021" in text


def test_chart_rejects_empty_series(tmp_path):
    with pytest.raises(ValueError):
        save_series_chart([], str(tmp_path / "c"), "t")


def test_pdf_embedded_vector_chart(tmp_path):
    pdf = save_pdf_report(
        str(tmp_path / "c.pdf"), "T", ["s"],
        [(2016, 70.0), (2017, 75.0)], ("year", "cov"),
        series=[(2015, 60.0), (2016, 70.0), (2017, 75.0), (2018, 80.0)],
        campaign_year=2017,
    )
    raw = open(pdf, "rb").read()
    # cover + chart page + body
    assert raw.count(b"/Type /Page ") == 3
    # vector path ops present: moveto/lineto/stroke + dashed marker
    assert b" m " in raw and b" l" in raw and b"S" in raw
    assert b"[3 3] 0 d" in raw
    # axis tick labels from the series extent
    assert b"(2015) Tj" in raw and b"(2018) Tj" in raw
    assert b"(60.0) Tj" in raw and b"(80.0) Tj" in raw


def test_chart_graphics_ops_degenerate_series():
    from world_vaccination_coverage_etl_spark.functions.report import (
        chart_graphics_ops,
    )

    assert chart_graphics_ops([]) == ""
    # single point / flat series: spans clamp to 1.0, no div-by-zero
    ops = chart_graphics_ops([(2020, 50.0)])
    assert "m" in ops and "S" in ops
