"""Series chart artifact — the reference's PNG plot at the
presentation edge (reference etl_pipeline.py:157-172: matplotlib line
plot of the coverage series with a campaign-year marker, saved next to
the CSV artifact).

The artifact is a dependency-free SVG rendered by hand, with the same
marks: line + point markers + dashed campaign marker + title/axis
labels.  Only ever invoked on an already-collected, driver-side series
(≤ ~45 rows per the reference working set) — never inside a
distributed plan.

`SeriesChart` is the one renderer.  It builds the marks that depend
only on the series once (scales, head, gridlines and axis labels, line,
markers, the interactive form's JSON points and title); `svg` and
`interactive_html` add one request's shaded windows and campaign
marker.  The CLI's `.svg` artifact (`save_series_chart`) and the
dashboard's interactive chart both go through it, and the dashboard
server keeps one per served pair (functions/dashboard.py `SeriesView`).
"""

from __future__ import annotations

import html
import json
from collections.abc import Sequence


class SeriesChart:
    """One series' chart, with every mark that depends only on the
    series built once: the scales, the SVG head (background, title,
    frame), the gridlines and axis labels, the polyline, the markers,
    and the escaped JSON ``points``/``title`` of the interactive form.
    `svg` and `interactive_html` then add a request's shaded windows,
    its campaign marker and the JSON ``campaign``/``windows``.

    ``points`` are sorted into (x, y) float pairs here.  Raises
    ValueError on an empty series (callers check for rows first)."""

    def __init__(
        self,
        points: Sequence[tuple[float, float]],
        title: str,
        width: int,
        height: int,
    ):
        if not points:
            raise ValueError("cannot chart an empty series")
        pts = sorted((float(x), float(y)) for x, y in points)
        ml, mr, mt, mb = 56, 16, 40, 44  # margins
        pw, ph = width - ml - mr, height - mt - mb
        xs = [x for x, _y in pts]
        ys = [y for _x, y in pts]
        x0, x1 = min(xs), max(xs)
        y0, y1 = min(ys), max(ys)
        if x1 == x0:
            x0, x1 = x0 - 0.5, x1 + 0.5
        if y1 == y0:
            y0, y1 = y0 - 1.0, y1 + 1.0
        # pad the value range 5% so the line doesn't hug the frame
        pad = 0.05 * (y1 - y0)
        y0, y1 = y0 - pad, y1 + pad
        self._ml, self._pw, self._mt, self._ph = ml, pw, mt, ph
        self._x0, self._x1 = x0, x1
        sx = self._sx

        def sy(y: float) -> float:
            return mt + ph - (y - y0) / (y1 - y0) * ph

        svg_attrs = (
            f'xmlns="http://www.w3.org/2000/svg" width="{width}" '
            f'height="{height}" viewBox="0 0 {width} {height}"'
        )
        self._open = f"<svg {svg_attrs}>"
        self._head = "\n".join([
            f'<rect width="{width}" height="{height}" fill="white"/>',
            f'<text x="{width / 2:.1f}" y="22" text-anchor="middle" '
            f'font-family="sans-serif" font-size="14" font-weight="bold">'
            f"{html.escape(title)}</text>",
            # frame
            f'<rect x="{ml}" y="{mt}" width="{pw}" height="{ph}" fill="none" '
            'stroke="#888" stroke-width="1"/>',
        ])
        # y gridlines + labels (4 ticks), drawn over the shaded windows
        grid = []
        for i in range(5):
            yv = y0 + (y1 - y0) * i / 4
            yy = sy(yv)
            grid.append(
                f'<line x1="{ml}" y1="{yy:.1f}" x2="{ml + pw}" y2="{yy:.1f}" '
                'stroke="#ddd" stroke-width="0.5"/>'
            )
            grid.append(
                f'<text x="{ml - 6}" y="{yy + 4:.1f}" text-anchor="end" '
                f'font-family="sans-serif" font-size="10">{yv:.1f}</text>'
            )
        # x labels: first, middle, last
        for xv in {x0, (x0 + x1) / 2, x1}:
            grid.append(
                f'<text x="{sx(xv):.1f}" y="{mt + ph + 16}" text-anchor="middle" '
                f'font-family="sans-serif" font-size="10">{xv:.0f}</text>'
            )
        self._grid = "\n".join(grid)
        # the series line + markers, drawn over the campaign marker
        line = " ".join(f"{sx(x):.1f},{sy(y):.1f}" for x, y in pts)
        tail = [
            f'<polyline points="{line}" fill="none" stroke="#2c6fbb" stroke-width="2"/>'
        ]
        for x, y in pts:
            tail.append(
                f'<circle cx="{sx(x):.1f}" cy="{sy(y):.1f}" r="2.5" fill="#2c6fbb"/>'
            )
        tail.append(
            f'<text x="{width / 2:.1f}" y="{height - 8}" text-anchor="middle" '
            'font-family="sans-serif" font-size="11">year</text>'
        )
        self._tail = "\n".join(tail)
        # the interactive form's JSON config in the key order of one
        # json.dumps(dict); html.escape maps one character at a time, so
        # the escaped pieces join to the escaped whole
        self._interactive_open = f"<svg {svg_attrs} data-chart='" + html.escape(
            '{"points": ' + json.dumps([[x, y] for x, y in pts])
            + ', "title": ' + json.dumps(html.escape(title))
            + ', "campaign": '
        )
        self._cfg_mid = html.escape(
            f', "w": {json.dumps(width)}, "h": {json.dumps(height)}'
            f', "x0": {json.dumps(pts[0][0])}, "x1": {json.dumps(pts[-1][0])}'
            f', "y0": {json.dumps(min(ys))}, "y1": {json.dumps(max(ys))}'
            ', "windows": '
        )

    def _sx(self, x: float) -> float:
        return self._ml + (x - self._x0) / (self._x1 - self._x0) * self._pw

    def _marks(
        self,
        campaign_year: float | None,
        windows: Sequence[tuple[float, float, str]] | None,
    ) -> str:
        """Every mark between the <svg> tags, in drawing order."""
        sx, mt, ph, x0, x1 = self._sx, self._mt, self._ph, self._x0, self._x1
        parts = [self._head]
        # shaded campaign windows (behind gridlines and the series)
        for wx0, wx1, color in windows or ():
            cx0, cx1 = max(float(wx0), x0), min(float(wx1), x1)
            if cx1 <= cx0:
                continue
            parts.append(
                f'<rect x="{sx(cx0):.1f}" y="{mt}" '
                f'width="{sx(cx1) - sx(cx0):.1f}" height="{ph}" '
                f'fill="{color}" fill-opacity="0.15"/>'
            )
        parts.append(self._grid)
        # campaign marker
        if campaign_year is not None and x0 <= campaign_year <= x1:
            cx = sx(campaign_year)
            parts.append(
                f'<line x1="{cx:.1f}" y1="{mt}" x2="{cx:.1f}" y2="{mt + ph}" '
                'stroke="#c0392b" stroke-width="1.5" stroke-dasharray="5,4"/>'
            )
            parts.append(
                f'<text x="{cx + 4:.1f}" y="{mt + 12}" font-family="sans-serif" '
                f'font-size="10" fill="#c0392b">campaign {campaign_year:.0f}</text>'
            )
        parts.append(self._tail)
        return "\n".join(parts)

    def svg(
        self,
        campaign_year: float | None = None,
        windows: Sequence[tuple[float, float, str]] | None = None,
    ) -> str:
        """The static SVG document.  ``windows``: optional shaded
        x-ranges (x_from, x_to, css_color) — the before/after campaign
        vrects of the reference dashboard (reference
        streamlit_app.py:254-308)."""
        return f"{self._open}\n{self._marks(campaign_year, windows)}\n</svg>"

    def interactive_html(
        self,
        campaign_year: float | None = None,
        windows: Sequence[tuple[float, float, str]] | None = None,
    ) -> str:
        """The chart as an INTERACTIVE embeddable HTML fragment — the
        reference dashboard's plotly hover/zoom/pan surface (reference
        streamlit_app.py:254-308) without any charting library: the
        marks of `svg` (so non-JS consumers and the pytest pins see the
        same marks) inside an <svg data-chart=...> whose embedded JSON
        the ~150-line vanilla-JS `_CHART_JS` re-draws on interaction.

        Interactions (plotly parity for the reference's usage):
        nearest-point hover tooltip with crosshair, wheel zoom anchored
        at the cursor (clamped to the data range), drag pan,
        double-click reset."""
        wins = [[float(a), float(b), c] for a, b, c in (windows or [])]
        return (
            f"{self._interactive_open}{html.escape(json.dumps(campaign_year))}"
            f"{self._cfg_mid}{html.escape(json.dumps(wins))}}}' "
            f'style="cursor:crosshair">\n{self._marks(campaign_year, windows)}\n'
            f"</svg>\n<script>{_CHART_JS}</script>"
        )


def save_series_chart(
    points: Sequence[tuple[float, float]],
    path_base: str,
    title: str = "",
    campaign_year: float | None = None,
    width: int = 640,
    height: int = 400,
) -> str:
    """Save the series chart as SVG; returns the path written.

    ``path_base`` carries no extension — ``.svg`` is appended here.
    Raises ValueError on an empty series (callers check for rows first).
    """
    svg = SeriesChart(points, title, width, height).svg(campaign_year)
    out = path_base + ".svg"
    with open(out, "w", encoding="utf-8") as fh:
        fh.write(svg)
    return out


_CHART_JS = """
(function () {
  var el = document.currentScript.previousElementSibling;
  var cfg = JSON.parse(el.getAttribute('data-chart'));
  var P = cfg.points, W = cfg.w, H = cfg.h;
  var ml = 56, mr = 16, mt = 40, mb = 44, pw = W - ml - mr, ph = H - mt - mb;
  var fx0 = cfg.x0, fx1 = cfg.x1;            // full x-domain (reset target)
  var x0 = fx0, x1 = fx1;                    // current view
  function yrange() {
    var lo = Infinity, hi = -Infinity;
    for (var i = 0; i < P.length; i++)
      if (P[i][0] >= x0 && P[i][0] <= x1) {
        if (P[i][1] < lo) lo = P[i][1];
        if (P[i][1] > hi) hi = P[i][1];
      }
    if (lo > hi) { lo = cfg.y0; hi = cfg.y1; }
    if (lo === hi) { lo -= 1; hi += 1; }
    var pad = 0.05 * (hi - lo);
    return [lo - pad, hi + pad];
  }
  function render() {
    var yr = yrange(), y0 = yr[0], y1 = yr[1];
    function sx(x) { return ml + (x - x0) / (x1 - x0) * pw; }
    function sy(y) { return mt + ph - (y - y0) / (y1 - y0) * ph; }
    var s = [];
    s.push('<rect width="' + W + '" height="' + H + '" fill="white"/>');
    s.push('<text x="' + W / 2 + '" y="22" text-anchor="middle" ' +
      'font-family="sans-serif" font-size="14" font-weight="bold">' +
      cfg.title + '</text>');
    (cfg.windows || []).forEach(function (w) {
      var a = Math.max(w[0], x0), b = Math.min(w[1], x1);
      if (b <= a) return;
      s.push('<rect x="' + sx(a) + '" y="' + mt + '" width="' +
        (sx(b) - sx(a)) + '" height="' + ph + '" fill="' + w[2] +
        '" fill-opacity="0.15"/>');
    });
    for (var i = 0; i <= 4; i++) {
      var yv = y0 + (y1 - y0) * i / 4, yy = sy(yv);
      s.push('<line x1="' + ml + '" y1="' + yy + '" x2="' + (ml + pw) +
        '" y2="' + yy + '" stroke="#ddd" stroke-width="0.5"/>');
      s.push('<text x="' + (ml - 6) + '" y="' + (yy + 4) +
        '" text-anchor="end" font-family="sans-serif" font-size="10">' +
        yv.toFixed(1) + '</text>');
    }
    [x0, (x0 + x1) / 2, x1].forEach(function (xv) {
      s.push('<text x="' + sx(xv) + '" y="' + (mt + ph + 16) +
        '" text-anchor="middle" font-family="sans-serif" font-size="10">' +
        xv.toFixed(1) + '</text>');
    });
    if (cfg.campaign !== null && cfg.campaign >= x0 && cfg.campaign <= x1) {
      var cx = sx(cfg.campaign);
      s.push('<line x1="' + cx + '" y1="' + mt + '" x2="' + cx + '" y2="' +
        (mt + ph) + '" stroke="#c0392b" stroke-width="1.5" ' +
        'stroke-dasharray="5,4"/>');
    }
    var vis = P.filter(function (p) { return p[0] >= x0 && p[0] <= x1; });
    s.push('<polyline points="' + vis.map(function (p) {
      return sx(p[0]) + ',' + sy(p[1]);
    }).join(' ') + '" fill="none" stroke="#2c6fbb" stroke-width="2"/>');
    vis.forEach(function (p) {
      s.push('<circle cx="' + sx(p[0]) + '" cy="' + sy(p[1]) +
        '" r="2.5" fill="#2c6fbb"/>');
    });
    s.push('<rect x="' + ml + '" y="' + mt + '" width="' + pw +
      '" height="' + ph + '" fill="none" stroke="#888"/>');
    s.push('<g id="hov" style="display:none">' +
      '<line id="hovline" stroke="#999" stroke-dasharray="2,2"/>' +
      '<circle id="hovpt" r="4" fill="none" stroke="#c0392b" stroke-width="2"/>' +
      '<rect id="hovbg" fill="#333" rx="3"/>' +
      '<text id="hovtx" font-family="sans-serif" font-size="11" fill="#fff"/>' +
      '</g>');
    el.innerHTML = s.join('');
    el.__scales = { sx: sx, sy: sy };
  }
  function nearest(mx) {
    var best = null, bd = 1e18;
    for (var i = 0; i < P.length; i++) {
      if (P[i][0] < x0 || P[i][0] > x1) continue;
      var d = Math.abs(el.__scales.sx(P[i][0]) - mx);
      if (d < bd) { bd = d; best = P[i]; }
    }
    return best;
  }
  function evx(ev) {
    var r = el.getBoundingClientRect();
    return (ev.clientX - r.left) * (W / r.width);
  }
  el.addEventListener('mousemove', function (ev) {
    if (drag) {
      var dx = (evx(ev) - drag.mx) / pw * (drag.x1 - drag.x0);
      var nx0 = drag.x0 - dx, nx1 = drag.x1 - dx;
      if (nx0 < fx0) { nx1 += fx0 - nx0; nx0 = fx0; }
      if (nx1 > fx1) { nx0 -= nx1 - fx1; nx1 = fx1; }
      x0 = Math.max(fx0, nx0); x1 = Math.min(fx1, nx1);
      render();
      return;
    }
    var p = nearest(evx(ev));
    var g = el.querySelector('#hov');
    if (!p) { g.style.display = 'none'; return; }
    var sx = el.__scales.sx, sy = el.__scales.sy;
    g.style.display = '';
    var hl = el.querySelector('#hovline');
    hl.setAttribute('x1', sx(p[0])); hl.setAttribute('x2', sx(p[0]));
    hl.setAttribute('y1', mt); hl.setAttribute('y2', mt + ph);
    var hp = el.querySelector('#hovpt');
    hp.setAttribute('cx', sx(p[0])); hp.setAttribute('cy', sy(p[1]));
    var tx = el.querySelector('#hovtx');
    tx.textContent = p[0] + ': ' + p[1].toFixed(2);
    var tw = p[0].toString().length + p[1].toFixed(2).length;
    var bx = Math.min(sx(p[0]) + 8, W - 8 * tw - 20);
    tx.setAttribute('x', bx + 5); tx.setAttribute('y', mt + 16);
    var bg = el.querySelector('#hovbg');
    bg.setAttribute('x', bx); bg.setAttribute('y', mt + 4);
    bg.setAttribute('width', 8 * tw + 10); bg.setAttribute('height', 17);
  });
  el.addEventListener('mouseleave', function () {
    var g = el.querySelector('#hov');
    if (g) g.style.display = 'none';
  });
  el.addEventListener('wheel', function (ev) {
    ev.preventDefault();
    var fx = (evx(ev) - ml) / pw;            // zoom anchor, 0..1
    var f = ev.deltaY < 0 ? 0.8 : 1.25;      // in / out
    var span = (x1 - x0) * f;
    var cx = x0 + (x1 - x0) * fx;
    x0 = Math.max(fx0, cx - span * fx);
    x1 = Math.min(fx1, x0 + span);
    render();
  }, { passive: false });
  var drag = null;
  el.addEventListener('mousedown', function (ev) {
    drag = { mx: evx(ev), x0: x0, x1: x1 };
  });
  window.addEventListener('mouseup', function () { drag = null; });
  el.addEventListener('dblclick', function () { x0 = fx0; x1 = fx1; render(); });
  render();
})();
"""
