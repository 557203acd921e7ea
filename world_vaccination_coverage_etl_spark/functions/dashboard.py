"""Static HTML dashboard export — the serving-layer analogue of the
reference's Streamlit apps.

The reference renders one (country, antigen) view per interaction:
KPI metric cards, a plotly line chart with shaded before/after
campaign windows, a CI bar chart, the Welch verdict, and a policy
brief (reference streamlit_app.py:176-505;
global_vaccination_coverage_explorer_app.py:191-452).  A Spark engine
has no widget loop, so the equivalent surface is an EXPORT: the series
comes from the distributed `coverage_series` plan (plans/analytics.py),
collected once at the presentation edge; the before/after window block
is computed from those rows in-process (functions/stats.py
`series_window_stats`, the one-series form of the grouped
`window_compare` plan); both are rendered into one dependency-free
self-contained HTML file (inline SVG charts, no CDN).

The widget loop itself is serve.py, which renders this same view per
request.  `st.cache_data`'s analogue there is the app's series snapshot
(plans/analytics.py `series_snapshot`): the server reads each series
from a driver-side copy of the clean table taken when the app is
constructed, and falls back to `coverage_series` and
`cached_dimension_index` only for a table too large to hold.
"""

from __future__ import annotations

import datetime as dt
import html
from collections.abc import Sequence

from .chart import interactive_series_html
from .narrative import policy_brief

_BEFORE_COLOR = "#2c6fbb"
_AFTER_COLOR = "#27ae60"

_CSS = """
body { font-family: sans-serif; margin: 24px auto; max-width: 760px; color: #222; }
h1 { font-size: 20px; } h2 { font-size: 15px; margin-top: 28px; }
.kpis { display: flex; gap: 12px; flex-wrap: wrap; }
.kpi { border: 1px solid #ddd; border-radius: 6px; padding: 10px 14px; min-width: 120px; }
.kpi .v { font-size: 20px; font-weight: bold; } .kpi .l { font-size: 11px; color: #666; }
.brief p { font-size: 13px; margin: 6px 0; }
table { border-collapse: collapse; font-size: 12px; }
td, th { border: 1px solid #ddd; padding: 3px 10px; text-align: right; }
.sig-yes { color: #27ae60; font-weight: bold; } .sig-no { color: #888; }
footer { margin-top: 28px; font-size: 11px; color: #888; }
"""


def _fmt(v, suffix: str = "", dp: int = 1) -> str:
    if v is None:
        return "n/a"
    try:
        return f"{float(v):.{dp}f}{suffix}"
    except (TypeError, ValueError):
        return html.escape(str(v))


def _kpi(label: str, value: str) -> str:
    return (
        f'<div class="kpi"><div class="v">{value}</div>'
        f'<div class="l">{html.escape(label)}</div></div>'
    )


def _ci_bar_svg(stats, width: int = 420, height: int = 240) -> str:
    """Before/after mean bars with CI whiskers (reference
    streamlit_app.py:386-429), hand-rendered SVG."""
    vals = [
        ("before", stats.avg_before, stats.ci_lo_before, stats.ci_hi_before,
         _BEFORE_COLOR),
        ("after", stats.avg_after, stats.ci_lo_after, stats.ci_hi_after,
         _AFTER_COLOR),
    ]
    ml, mt, mb = 46, 20, 28
    ph = height - mt - mb
    nums = [
        float(x) for _, mean, _lo, hi_ci, _ in vals
        for x in (mean, hi_ci) if x is not None
    ]
    hi = min(max(max(nums + [1.0]) * 1.1, 10.0), 110.0)

    def sy(y: float) -> float:
        return mt + ph - (y / hi) * ph

    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" '
        f'height="{height}" viewBox="0 0 {width} {height}">',
        f'<rect width="{width}" height="{height}" fill="white"/>',
    ]
    for i in range(5):
        yv = hi * i / 4
        parts.append(
            f'<line x1="{ml}" y1="{sy(yv):.1f}" x2="{width - 10}" '
            f'y2="{sy(yv):.1f}" stroke="#ddd" stroke-width="0.5"/>'
            f'<text x="{ml - 6}" y="{sy(yv) + 4:.1f}" text-anchor="end" '
            f'font-family="sans-serif" font-size="10">{yv:.0f}</text>'
        )
    bar_w = 90
    for i, (label, mean, lo, hi_ci, color) in enumerate(vals):
        cx = ml + 70 + i * 180
        if mean is not None:
            parts.append(
                f'<rect x="{cx - bar_w / 2:.1f}" y="{sy(float(mean)):.1f}" '
                f'width="{bar_w}" height="{mt + ph - sy(float(mean)):.1f}" '
                f'fill="{color}" fill-opacity="0.8"/>'
            )
            if lo is not None and hi_ci is not None:
                parts.append(
                    f'<line x1="{cx}" y1="{sy(float(lo)):.1f}" x2="{cx}" '
                    f'y2="{sy(float(hi_ci)):.1f}" stroke="#333" stroke-width="1.5"/>'
                    f'<line x1="{cx - 10}" y1="{sy(float(lo)):.1f}" x2="{cx + 10}" '
                    f'y2="{sy(float(lo)):.1f}" stroke="#333" stroke-width="1.5"/>'
                    f'<line x1="{cx - 10}" y1="{sy(float(hi_ci)):.1f}" x2="{cx + 10}" '
                    f'y2="{sy(float(hi_ci)):.1f}" stroke="#333" stroke-width="1.5"/>'
                )
        parts.append(
            f'<text x="{cx}" y="{height - 8}" text-anchor="middle" '
            f'font-family="sans-serif" font-size="11">{label}</text>'
        )
    parts.append("</svg>")
    return "\n".join(parts)


def render_dashboard_html(
    country: str,
    antigen: str,
    series_rows: Sequence[tuple[int, float]],
    stats,
    start_year: int,
    pre_years: int,
    post_years: int,
) -> str:
    """Render the one-series dashboard view as a self-contained HTML
    string.  ``stats`` is one `series_window_stats` (or collected
    `window_compare`) row."""
    if not series_rows:
        raise ValueError(
            "cannot render a dashboard for an empty series "
            "(callers guard with the nonempty check first)"
        )
    risk, implication, action = policy_brief(
        stats.avg_before, stats.avg_after, stats.diff_pp, stats.p_value,
        stats.n_before, stats.n_after,
    )
    line_svg = interactive_series_html(
        [(float(y), float(c)) for y, c in series_rows],
        f"{country} — {antigen}",
        campaign_year=float(start_year),
        width=720,
        height=360,
        windows=[
            (start_year - pre_years, start_year - 0.5, _BEFORE_COLOR),
            (start_year - 0.5, start_year + post_years, _AFTER_COLOR),
        ],
    )
    sig = getattr(stats, "significance", None) or "n/a"
    sig_cls = "sig-yes" if str(sig).startswith("significant") else "sig-no"
    latest_year, latest_cov = max(series_rows, key=lambda r: r[0])
    rows_html = "\n".join(
        f"<tr><td>{int(y)}</td><td>{_fmt(c)}</td></tr>"
        for y, c in sorted(series_rows)
    )
    return f"""<!DOCTYPE html>
<html><head><meta charset="utf-8">
<title>{html.escape(country)} / {html.escape(antigen)} — coverage dashboard</title>
<style>{_CSS}</style></head>
<body>
<h1>Vaccination coverage — {html.escape(country)} / {html.escape(antigen)}</h1>
<div class="kpis">
{_kpi(f"latest coverage ({int(latest_year)})", _fmt(latest_cov, "%"))}
{_kpi("avg before", _fmt(stats.avg_before, "%"))}
{_kpi("avg after", _fmt(stats.avg_after, "%"))}
{_kpi("difference", _fmt(stats.diff_pp, " pp"))}
{_kpi("p-value", _fmt(stats.p_value, "", 4))}
{_kpi("observations", str(len(series_rows)))}
</div>
<h2>Coverage series ({start_year - pre_years}–{start_year - 1} vs
{start_year}–{start_year + post_years})</h2>
{line_svg}
<h2>Window means with 95% CI — verdict:
<span class="{sig_cls}">{html.escape(str(sig))}</span></h2>
{_ci_bar_svg(stats)}
<h2>Policy brief</h2>
<div class="brief">
<p><b>Risk.</b> {html.escape(risk)}</p>
<p><b>Implication.</b> {html.escape(implication)}</p>
<p><b>Action.</b> {html.escape(action)}</p>
</div>
<h2>Data</h2>
<table><tr><th>year</th><th>coverage %</th></tr>
{rows_html}
</table>
<footer>generated {dt.date.today().isoformat()} — one (country, antigen) series
of the clean warehouse table; window statistics computed from that series</footer>
</body></html>
"""


def save_dashboard_html(
    path: str,
    country: str,
    antigen: str,
    series_rows: Sequence[tuple[int, float]],
    stats,
    start_year: int,
    pre_years: int,
    post_years: int,
) -> str:
    doc = render_dashboard_html(
        country, antigen, series_rows, stats, start_year, pre_years, post_years
    )
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(doc)
    return path
