"""Country-name → emoji-flag scalar UDF.

The reference's entire UDF surface is one function: ``country_to_flag``
(streamlit_app.py:82-87), a pycountry lookup mapped to Unicode
regional-indicator characters with a white-flag fallback swallowing
every error.  pycountry is not installed here, so the lookup is gated
behind an import-try with a deterministic fallback: if the (trimmed)
name is exactly two ASCII letters treat it as an ISO alpha-2 code,
otherwise use a small built-in name→code table; anything unresolvable
returns the white flag, like the reference.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover - optional dependency
    import pycountry  # type: ignore
except ImportError:  # pragma: no cover
    pycountry = None

WHITE_FLAG = "\U0001F3F3️"

_REGIONAL_INDICATOR_BASE = 0x1F1E6  # 🇦

# Full vendored ISO 3166-1 name→alpha-2 table (+OWID-style aliases)
# for the fallback path; covers the driver's TPC-H nation names and
# arbitrary OWID country names alike.
from .iso3166 import NAME_TO_ALPHA2 as _NAME_TO_ALPHA2


def _alpha2_to_flag(code: str) -> str:
    return "".join(chr(_REGIONAL_INDICATOR_BASE + ord(c) - ord("A")) for c in code)


def country_to_flag(name: str | None) -> str:
    """Pure-Python kernel; error-swallowing fallback like the reference."""
    try:
        if not name:
            return WHITE_FLAG
        trimmed = name.strip()
        if pycountry is not None:
            country = pycountry.countries.lookup(trimmed)
            return _alpha2_to_flag(country.alpha_2.upper())
        upper = trimmed.upper()
        # name table first: "UK" must resolve as the United Kingdom
        # alias, not be mistaken for an (unassigned) alpha-2 code
        code = _NAME_TO_ALPHA2.get(upper)
        if code:
            return _alpha2_to_flag(code)
        if len(upper) == 2 and upper.isalpha() and upper.isascii():
            return _alpha2_to_flag(upper)
        return WHITE_FLAG
    except Exception:
        return WHITE_FLAG


country_flag_udf = F.udf(country_to_flag, T.StringType(), useArrow=False)
