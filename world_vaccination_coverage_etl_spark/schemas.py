"""Names and constants for the engine's tables.

The reference declares a fixed DDL for its clean fact table
(reference etl_pipeline.py:83-94) and infers the raw staging schema from
the CSV (etl_pipeline.py:53).  Here the clean table's types are fixed by
the ETL itself: it reads the CSV as strings and
``plans.pipeline.clean_immunization`` ``try_cast``s ``year`` to int and
``coverage_pct`` to double.  The raw table keeps inference (it is a
staging artifact).
"""

from __future__ import annotations

# Key of the tidy fact table: one row per (country, antigen, year).
IMMUNIZATION_KEY = ["country", "antigen", "year"]

# Year sanity clamp applied during ETL (reference etl_pipeline.py:75).
YEAR_MIN = 1980
YEAR_MAX = 2100

# Measure-column discovery prefix (reference etl_pipeline.py:64-66).
COVERAGE_PREFIX = "coverage__"

# Table names in the warehouse (reference etl_pipeline.py:24-26).
TABLE_RAW = "owid_raw"
TABLE_CLEAN = "immunization"

# Per-run record `run_etl` writes next to the tables: input, counts,
# timings and Spark application id.
RUN_MANIFEST = "run_manifest.json"

# Star-schema test tables generated by the driver (TESTDATA.md).
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
