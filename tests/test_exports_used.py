"""Regrowth guard: every name a subpackage exports is used outside tests.

A name in the ``__all__`` of ``functions``, ``operators``, ``plans``,
``sources`` or ``streaming`` counts as used when it appears as code (a
Python name token, not a string or comment) in package code other than
its defining module and the ``__init__`` files, in ``examples/``,
``tools/`` or ``bench.py``, or as a word in ``README.md`` or
``DEPLOY.md``.  A name only the tests call is dead weight: delete it
with its tests, or stop exporting it.
"""

from __future__ import annotations

import ast
import importlib
import io
import re
import tokenize
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "world_vaccination_coverage_etl_spark"
SUBPACKAGES = ["functions", "operators", "plans", "sources", "streaming"]

# Exported names a document promises although no code calls them yet;
# each entry cites the line that promises it.
DOC_PROMISED = {
    # README.md:11 "KPI extremes (first/last/min/max/count)"
    "series_kpis",
    # SURVEY.md:142 `filter_membership`, the dependent-dimension filter
    # (antigens available for the chosen country)
    "antigens_for_country",
    # .github/workflows/refresh_warehouse.yml:6-7 "the refresh mechanism
    # itself also exists in-engine as streaming/refresh.py"
    "streaming_refresh_available_now",
}


def _code_names(path: Path) -> set[str]:
    toks = tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
    return {t.string for t in toks if t.type == tokenize.NAME}


def _exports() -> list[tuple[str, str, Path]]:
    """(subpackage, exported name, defining module file) triples."""
    out = []
    for sub in SUBPACKAGES:
        init = PKG / sub / "__init__.py"
        origin = {
            alias.asname or alias.name: PKG / sub / f"{node.module}.py"
            for node in ast.parse(init.read_text()).body
            if isinstance(node, ast.ImportFrom) and node.level == 1
            for alias in node.names
        }
        mod = importlib.import_module(f"{PKG.name}.{sub}")
        out += [(sub, name, origin[name]) for name in mod.__all__]
    return out


EXPORTS = _exports()


@pytest.fixture(scope="module")
def usage():
    code = {
        p: _code_names(p)
        for p in [
            *(p for p in PKG.rglob("*.py") if p.name != "__init__.py"),
            *(ROOT / "examples").glob("*.py"),
            *(ROOT / "tools").glob("*.py"),
            ROOT / "bench.py",
        ]
    }
    docs = "\n".join((ROOT / d).read_text() for d in ("README.md", "DEPLOY.md"))
    return code, docs


def test_allowlist_names_are_exported():
    assert DOC_PROMISED <= {name for _, name, _ in EXPORTS}


@pytest.mark.parametrize(
    "sub,name,origin", EXPORTS, ids=[f"{s}.{n}" for s, n, _ in EXPORTS]
)
def test_export_is_used_outside_tests(usage, sub, name, origin):
    if name in DOC_PROMISED:
        return
    code, docs = usage
    users = [p for p, names in code.items() if p != origin and name in names]
    assert users or re.search(rf"\b{re.escape(name)}\b", docs), (
        f"{sub}.{name} is exported but only tests use it: delete it with "
        f"its tests, stop exporting it, or cite the doc that promises it"
    )
