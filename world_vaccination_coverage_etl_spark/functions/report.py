"""PDF report artifact — the reference's report generator at the
presentation edge (reference report_generator.py:38-55 cover page,
58-121 body with summary paragraphs + top-20 table, 124-154 build;
the ``date.today()`` stamp is report_generator.py:52).

The reference uses reportlab + pypdf; neither exists here, so this
writes a minimal valid PDF by hand (text-only: PDF 1.4, Type1
Helvetica, one content stream per page, correct xref offsets — all
public file-format knowledge).  Like the chart, it only ever renders
already-collected driver-side scalars and a ≤20-row table slice
(reference cap, report_generator.py:78): the engine supplies the
aggregates, the edge just formats them.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence

_LINES_PER_PAGE = 54
_FONT_SIZE = 11
_LEADING = 13


def _pdf_escape(s: str) -> str:
    return (
        s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
    )


def _page_stream(lines: Sequence[str], graphics: str = "") -> bytes:
    parts = [f"BT /F1 {_FONT_SIZE} Tf 72 720 Td {_LEADING} TL"]
    for i, line in enumerate(lines):
        text = _pdf_escape(line).encode("latin-1", "replace").decode("latin-1")
        parts.append(("T* " if i else "") + f"({text}) Tj")
    parts.append("ET")
    if graphics:
        parts.append(graphics)
    return "\n".join(parts).encode("latin-1")


def chart_graphics_ops(
    series: Sequence[tuple[float, float]],
    campaign_year: float | None = None,
    ox: float = 72,
    oy: float = 360,
    width: float = 468,
    height: float = 260,
) -> str:
    """Series line chart as raw PDF path operators — the vector
    analogue of the reference's embedded matplotlib chart image
    (report_generator.py:21-35,116-120).  Axes + data polyline +
    optional dashed campaign-year marker + min/max/first/last tick
    labels; pure content-stream drawing, no raster, no dependencies.
    """
    if not series:
        return ""
    pts = sorted((float(x), float(y)) for x, y in series)
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    x_lo, x_hi = min(xs), max(xs)
    y_lo, y_hi = min(ys), max(ys)
    x_span = (x_hi - x_lo) or 1.0
    y_span = (y_hi - y_lo) or 1.0

    def sx(v: float) -> float:
        return ox + (v - x_lo) / x_span * width

    def sy(v: float) -> float:
        return oy + (v - y_lo) / y_span * height

    ops = ["q"]
    # axes
    ops.append(
        f"0.6 w 0.35 0.35 0.35 RG {ox:.1f} {oy + height:.1f} m "
        f"{ox:.1f} {oy:.1f} l {ox + width:.1f} {oy:.1f} l S"
    )
    # campaign-year marker (dashed vertical), clamped to the x range
    if campaign_year is not None and x_lo <= campaign_year <= x_hi:
        cx = sx(campaign_year)
        ops.append(
            f"[3 3] 0 d 0.8 w 0.75 0.3 0.25 RG "
            f"{cx:.1f} {oy:.1f} m {cx:.1f} {oy + height:.1f} l S [] 0 d"
        )
    # data polyline
    path = f"{sx(xs[0]):.1f} {sy(ys[0]):.1f} m " + " ".join(
        f"{sx(x):.1f} {sy(y):.1f} l" for x, y in pts[1:]
    )
    ops.append(f"1.4 w 0.12 0.38 0.68 RG {path} S")
    # tick labels: y min/max, x first/last year
    def label(x: float, y: float, text: str) -> str:
        safe = _pdf_escape(text)
        return f"BT /F1 8 Tf {x:.1f} {y:.1f} Td ({safe}) Tj ET"

    ops.append(label(ox - 38, oy - 3, f"{y_lo:.1f}"))
    ops.append(label(ox - 38, oy + height - 3, f"{y_hi:.1f}"))
    ops.append(label(ox - 10, oy - 14, f"{x_lo:.0f}"))
    ops.append(label(ox + width - 16, oy - 14, f"{x_hi:.0f}"))
    ops.append("Q")
    return "\n".join(ops)


def render_pdf_pages(
    pages: Sequence[Sequence[str]],
    graphics: dict[int, str] | None = None,
) -> bytes:
    """Render explicit pages (cover + body) into one minimal PDF —
    the hand-built analogue of the reference's pypdf cover/body merge
    (report_generator.py:147-153).  ``graphics`` maps a page index to
    raw content-stream drawing operators appended after that page's
    text (used for the embedded vector chart)."""
    pages = [list(p) for p in pages] or [[]]
    graphics = graphics or {}

    # object numbering: 1 catalog, 2 pages, 3 font, then per page:
    # (page obj, contents obj)
    objs: list[bytes] = []
    page_ids = [4 + 2 * i for i in range(len(pages))]
    kids = " ".join(f"{pid} 0 R" for pid in page_ids)
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {len(pages)} >>".encode()
    )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    for idx, (pid, page_lines) in enumerate(zip(page_ids, pages)):
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 3 0 R >> >> "
                f"/Contents {pid + 1} 0 R >>"
            ).encode()
        )
        stream = _page_stream(page_lines, graphics.get(idx, ""))
        objs.append(
            f"<< /Length {len(stream)} >>\nstream\n".encode()
            + stream
            + b"\nendstream"
        )

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]  # object 0 is the free head
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def cover_lines(
    title: str,
    subtitle: str = "",
    context: Sequence[str] = (),
    today: _dt.date | None = None,
) -> list[str]:
    """Compose the reference cover page (report_generator.py:38-55):
    vertical offset, report title, subtitle, context lines (the
    reference shows Country/Antigen), and the generated-on stamp."""
    today = today or _dt.date.today()
    lines = ["" for _ in range(6)]  # ~1.1in spacer at 13pt leading
    lines.append(title)
    lines.append("")
    if subtitle:
        lines += [subtitle, ""]
    lines += list(context)
    lines.append(f"Generated on: {today.isoformat()}")
    return lines


def report_lines(
    title: str,
    summary: Sequence[str],
    table_rows: Sequence[tuple] = (),
    table_header: Sequence[str] = (),
    today: _dt.date | None = None,
) -> list[str]:
    """Compose the reference report layout as text lines: title +
    generated-date stamp (report_generator.py:52) + summary paragraphs
    + a top-20 table (cap per report_generator.py:78)."""
    today = today or _dt.date.today()
    lines = [title, f"Generated: {today.isoformat()}", ""]
    lines += list(summary)
    if len(table_rows) > 0:
        lines.append("")
        if table_header:
            lines.append("  ".join(str(h) for h in table_header))
            lines.append("-" * min(72, 2 + 12 * len(table_header)))
        for row in list(table_rows)[:20]:
            lines.append("  ".join(str(v) for v in row))
    return lines


def save_pdf_report(
    path: str,
    title: str,
    summary: Sequence[str],
    table_rows: Sequence[tuple] = (),
    table_header: Sequence[str] = (),
    today: _dt.date | None = None,
    cover_subtitle: str = "",
    cover_context: Sequence[str] = (),
    series: Sequence[tuple[float, float]] = (),
    campaign_year: float | None = None,
) -> str:
    """Two-page-minimum output matching the reference shape: a dedicated
    cover page (report_generator.py:38-55) followed by the body pages
    (summary + top-20 table), merged into one document the way the
    reference merges cover and body PDFs (report_generator.py:147-153).
    When ``series`` is given, a chart page follows the cover with the
    series drawn as native PDF vector paths — the reference embeds a
    matplotlib PNG there (report_generator.py:116-120); vector paths
    carry the same information dependency-free.
    """
    cover = cover_lines(title, cover_subtitle, cover_context, today)
    body = report_lines(title, summary, table_rows, table_header, today)
    body_pages = [
        body[i : i + _LINES_PER_PAGE]
        for i in range(0, max(len(body), 1), _LINES_PER_PAGE)
    ] or [[]]
    pages: list[Sequence[str]] = [cover]
    graphics: dict[int, str] = {}
    if series:
        pages.append([title, "Coverage series"])
        graphics[1] = chart_graphics_ops(series, campaign_year)
    pages.extend(body_pages)
    with open(path, "wb") as fh:
        fh.write(render_pdf_pages(pages, graphics))
    return path
