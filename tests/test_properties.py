"""Property-based tests (hypothesis) for the pure-Python kernels:
t-distribution inverses, split-hash math, and the PDF renderer.
Spark-free on purpose — each example must be cheap."""

from __future__ import annotations

import hashlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from world_vaccination_coverage_etl_spark.functions.report import (
    _LINES_PER_PAGE,
    render_pdf_pages,
)
from world_vaccination_coverage_etl_spark.functions.tdist import t_cdf, t_ppf

_q = st.floats(min_value=0.001, max_value=0.999, allow_nan=False)
_df = st.floats(min_value=0.3, max_value=500.0, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(_q, _df)
def test_t_ppf_cdf_roundtrip(q, df):
    x = float(t_ppf(q, df))
    assert np.isfinite(x)
    assert abs(float(t_cdf(x, df)) - q) < 1e-9


@settings(max_examples=100, deadline=None)
@given(_df, st.floats(min_value=-50, max_value=50), st.floats(min_value=1e-6, max_value=5))
def test_t_cdf_monotone_and_symmetric(df, t, eps):
    lo, hi = float(t_cdf(t, df)), float(t_cdf(t + eps, df))
    assert hi >= lo
    # symmetry: F(-t) = 1 - F(t)
    assert abs(float(t_cdf(-t, df)) - (1.0 - float(t_cdf(t, df)))) < 1e-12


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=10**12),
       st.floats(min_value=0.0, max_value=1.0),
       st.floats(min_value=0.0, max_value=1.0))
def test_hash_split_threshold_monotone(doc_id, f1, f2):
    """The md5-bucket rule: membership in 'train' is monotone in the
    fraction (the invariant behind stable split growth), and fraction
    1.0 includes EVERY row (hypothesis caught the naive 5-hex-char
    threshold encoding excluding digests >= '2' at fraction=1.0)."""
    from world_vaccination_coverage_etl_spark.operators.sampling import (
        _frac_threshold,
    )

    lo, hi = sorted([f1, f2])
    h = hashlib.md5(f"split:{doc_id}".encode()).hexdigest()[:4]
    in_lo = h < _frac_threshold(lo)
    in_hi = h < _frac_threshold(hi)
    assert (not in_lo) or in_hi  # lo member => hi member
    assert h < _frac_threshold(1.0)  # full fraction keeps everything


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=120), min_size=0, max_size=200))
def test_render_pdf_always_valid_skeleton(lines):
    # paginated as save_pdf_report does, so 0-200 lines make 1-4 pages
    pages = [
        lines[i : i + _LINES_PER_PAGE]
        for i in range(0, max(len(lines), 1), _LINES_PER_PAGE)
    ]
    data = render_pdf_pages(pages)
    assert f"/Count {len(pages)} >>".encode() in data
    assert data.startswith(b"%PDF-1.4")
    assert data.rstrip().endswith(b"%%EOF")
    # every xref offset points at its object header
    rows = data.split(b"\n")
    xref_start = rows.index(b"xref")
    offsets = [int(x.split()[0]) for x in rows[xref_start + 2 :] if x.endswith(b"n ")]
    for i, off in enumerate(offsets, start=1):
        assert data[off:].startswith(f"{i} 0 obj".encode())
