"""Country-flag UDF kernel tests (pure Python — no Spark session).

The reference resolves names through the full pycountry DB (reference
streamlit_app.py:82-87); the fallback path here vendors an ISO 3166-1
table.  These tests pin that table's breadth and the reference's
error-swallowing white-flag semantics.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from world_vaccination_coverage_etl_spark.functions.flags import (
    WHITE_FLAG,
    _alpha2_to_flag,
    country_flag_udf,
    country_to_flag,
)
from world_vaccination_coverage_etl_spark.functions.iso3166 import NAME_TO_ALPHA2


def test_table_breadth_and_shape():
    # every UN member + common territories + aliases: well past the
    # 190-name bar, all codes two ASCII uppercase letters
    assert len(NAME_TO_ALPHA2) >= 190
    assert len(set(NAME_TO_ALPHA2.values())) >= 180
    for name, code in NAME_TO_ALPHA2.items():
        assert name == name.upper().strip()
        assert len(code) == 2 and code.isalpha() and code.isupper()


def test_owid_style_names_resolve():
    expect = {
        "United States": "US",
        "United States of America": "US",
        "United Kingdom": "GB",
        "UK": "GB",
        "Russia": "RU",
        "Russian Federation": "RU",
        "South Korea": "KR",
        "North Korea": "KP",
        "Vietnam": "VN",
        "Viet Nam": "VN",
        "Cote d'Ivoire": "CI",
        "Ivory Coast": "CI",
        "Democratic Republic of Congo": "CD",
        "Czechia": "CZ",
        "Czech Republic": "CZ",
        "Eswatini": "SZ",
        "Swaziland": "SZ",
        "Myanmar": "MM",
        "North Macedonia": "MK",
        "Timor-Leste": "TL",
        "Turkey": "TR",
        "Bolivia": "BO",
        "Tanzania": "TZ",
        "Moldova": "MD",
        "Laos": "LA",
        "Syria": "SY",
        "Taiwan": "TW",
        "Hong Kong": "HK",
        "Greenland": "GL",
        "Palestine": "PS",
    }
    for name, code in expect.items():
        assert country_to_flag(name) == _alpha2_to_flag(code), name
        # case/whitespace-insensitive like the reference lookup
        assert country_to_flag(f"  {name.lower()}  ") == _alpha2_to_flag(code)


def test_every_table_name_resolves_to_its_code():
    for name, code in NAME_TO_ALPHA2.items():
        assert country_to_flag(name) == _alpha2_to_flag(code)


def test_alpha2_passthrough_and_white_flag_fallback():
    assert country_to_flag("fr") == _alpha2_to_flag("FR")
    assert country_to_flag(None) == WHITE_FLAG
    assert country_to_flag("") == WHITE_FLAG
    assert country_to_flag("Atlantis") == WHITE_FLAG
    # ISO-unassigned names fall through like the reference's error path
    assert country_to_flag("Kosovo") == WHITE_FLAG


def test_flag_codepoints():
    flag = country_to_flag("Japan")
    assert [ord(c) - 0x1F1E6 for c in flag] == [ord("J") - 65, ord("P") - 65]


def test_importing_functions_emits_no_user_warning():
    """The flag UDF names its eval type, so building it at import time
    raises no ``Cannot infer the eval type from type hints`` warning."""
    proc = subprocess.run(
        [sys.executable, "-W", "error::UserWarning", "-c",
         "import world_vaccination_coverage_etl_spark.functions"],
        cwd=Path(__file__).resolve().parent.parent, capture_output=True, text=True,
    )
    assert proc.returncode == 0, proc.stderr


def test_flag_udf_is_a_batched_python_udf():
    from pyspark.util import PythonEvalType

    assert country_flag_udf.evalType == PythonEvalType.SQL_BATCHED_UDF
