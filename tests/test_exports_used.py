"""Regrowth guard: every top-level function and class in the package, and
every name a subpackage exports, is used outside tests.

A name counts as used when it appears as code (a Python name token, or a
name inside an f-string expression; not a plain string or comment)
anywhere outside its own definition in package code, ``examples/``,
``tools/``, ``bench.py``, ``__spark_entry__.py`` or ``perfbench/`` (not
``perfbench/tests/``).  The
``from .x import ...`` re-exports and ``__all__`` lists of the
``__init__`` files do not count, nor does a mention in a module that
defines its own top-level name of the same spelling.  A query
registered with ``@register`` is used by the registry, and a word in
``README.md`` or ``DEPLOY.md`` is a promise to users.  A name only the
tests call is dead weight: delete it with its tests, or cite on
``ALLOWED`` why it stays.
"""

from __future__ import annotations

import ast
import importlib
import io
import re
import tokenize
from collections import defaultdict
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "world_vaccination_coverage_etl_spark"
SUBPACKAGES = ["functions", "operators", "plans", "sources", "streaming"]

# Names no code outside the tests calls, each with the reason it stays.
# Keyed by the dotted path of the defining module inside the package.
ALLOWED = {
    "plans.analytics.series_kpis": (
        'README.md:11 promises "KPI extremes (first/last/min/max/count)"'),
    "plans.analytics.antigens_for_country": (
        "SURVEY.md `filter_membership` promises the dependent-dimension filter "
        "(antigens available for the chosen country)"),
    "operators.dedup.simhash_md5_signatures": (
        "parity reference for the fused SimHash kernel (tests/test_dedup.py)"),
    "operators.quantize.quantize_int8": (
        "parity reference for the fused int8 quantizer (tests/test_profile_ids_scd.py)"),
    "operators.wav_codec.adpcm_encode": "fixture encoder of the ADPCM decode tests",
    "plans.pipeline.assert_unique_key": (
        "the documented full uniqueness check; perfbench/spans.py wraps it by name"),
}


def _module_name(path: Path) -> str:
    rel = path.relative_to(PKG).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join(parts)


def _tokens(source: str):
    """(name, line) for each code name: NAME tokens, and the names and
    attributes inside f-string replacement fields."""
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.NAME:
            yield tok.string, tok.start[0]
        elif tok.type == tokenize.STRING and "f" in re.match(r"\w*", tok.string).group().lower():
            for node in ast.walk(ast.parse(tok.string, mode="eval")):
                if isinstance(node, ast.Name):
                    yield node.id, tok.start[0]
                elif isinstance(node, ast.Attribute):
                    yield node.attr, tok.start[0]


def _def_span(node) -> tuple[int, int]:
    first = min([node.lineno, *(d.lineno for d in node.decorator_list)])
    return first, node.end_lineno


def _is_registered(node) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in node.decorator_list
    )


def _reexport_lines(tree: ast.Module) -> set[int]:
    """Lines of an ``__init__``'s relative imports and ``__all__``."""
    lines: set[int] = set()
    for node in tree.body:
        reexport = (isinstance(node, ast.ImportFrom) and node.level >= 1) or (
            isinstance(node, ast.Assign)
            and any(getattr(t, "id", None) == "__all__" for t in node.targets)
        )
        if reexport:
            lines.update(range(node.lineno, node.end_lineno + 1))
    return lines


def _scan():
    """Top-level definitions of the package, and every code mention of a
    name in the scanned files."""
    defs = []  # (qualified name, name, path, span, registered)
    defined_in: dict[Path, set[str]] = defaultdict(set)
    mentions: dict[str, list[tuple[Path, int]]] = defaultdict(list)
    files = [
        *sorted(PKG.rglob("*.py")),
        *sorted((ROOT / "examples").glob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
        *sorted(
            p for p in (ROOT / "perfbench").rglob("*.py")
            if "tests" not in p.relative_to(ROOT).parts
        ),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    for path in files:
        source = path.read_text()
        tree = ast.parse(source)
        skip = _reexport_lines(tree) if path.name == "__init__.py" else set()
        for name, line in _tokens(source):
            if line not in skip:
                mentions[name].append((path, line))
        if path.is_relative_to(PKG):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    qual = f"{_module_name(path)}.{node.name}"
                    defs.append((qual, node.name, path, _def_span(node), _is_registered(node)))
                    defined_in[path].add(node.name)
    return defs, defined_in, mentions


DEFS, DEFINED_IN, MENTIONS = _scan()


def _exports() -> dict[str, tuple]:
    """``subpackage.name`` -> definition case of each subpackage export.
    A name bound by assignment (a UDF object) has no span."""
    by_qual = {d[0]: d for d in DEFS}
    out = {}
    for sub in SUBPACKAGES:
        init = PKG / sub / "__init__.py"
        origin = {
            alias.asname or alias.name: PKG / sub / f"{node.module}.py"
            for node in ast.parse(init.read_text()).body
            if isinstance(node, ast.ImportFrom) and node.level == 1
            for alias in node.names
        }
        for name in importlib.import_module(f"{PKG.name}.{sub}").__all__:
            qual = f"{_module_name(origin[name])}.{name}"
            out[f"{sub}.{name}"] = by_qual.get(qual, (qual, name, origin[name], None, False))
    return out


# Exports keep their ``subpackage.name`` test ids; every other top-level
# definition is checked under its qualified name.  Each name is checked once.
EXPORTS = _exports()
OTHER_DEFS = [d for d in DEFS if d[0] not in {e[0] for e in EXPORTS.values()}]

DOCS = "\n".join((ROOT / d).read_text() for d in ("README.md", "DEPLOY.md"))


def _used(name: str, path: Path, span: tuple[int, int] | None) -> bool:
    for where, line in MENTIONS.get(name, ()):
        if where == path:
            if span is None or not span[0] <= line <= span[1]:
                return True
        elif name not in DEFINED_IN[where]:
            return True
    return bool(re.search(rf"\b{re.escape(name)}\b", DOCS))


def test_allowlist_names_are_defined():
    assert set(ALLOWED) <= {qual for qual, *_ in DEFS}


def test_allowlist_names_are_otherwise_unused():
    """An entry whose name has gained a caller is stale: drop it."""
    stale = [q for q, name, path, span, _ in DEFS if q in ALLOWED and _used(name, path, span)]
    assert not stale, f"allowlisted names now used outside tests: {stale}"


def _assert_used(qual, name, path, span, registered):
    if registered or qual in ALLOWED:
        return
    assert _used(name, path, span), (
        f"{qual} is used by tests only: delete it with its tests, or cite "
        f"on ALLOWED why it stays"
    )


@pytest.mark.parametrize(
    "qual,name,path,span,registered", OTHER_DEFS, ids=[d[0] for d in OTHER_DEFS]
)
def test_definition_is_used_outside_tests(qual, name, path, span, registered):
    _assert_used(qual, name, path, span, registered)


@pytest.mark.parametrize(
    "qual,name,path,span,registered", EXPORTS.values(), ids=EXPORTS.keys()
)
def test_export_is_used_outside_tests(qual, name, path, span, registered):
    _assert_used(qual, name, path, span, registered)
