"""CSV sources for the wide (pre-melt) coverage table.

The reference fetches the OWID grapher CSV over HTTP with a 60 s timeout
and parses it with pandas (reference etl_pipeline.py:28-31,51-53).  The
Spark-native equivalent: a driver-side download to a staging path (the
fetch is a single small file; executors never see the URL), then a
declarative ``spark.read.csv`` so the rest of the pipeline is a lazy
logical plan.
"""

from __future__ import annotations

import csv
import os
import tempfile
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_TIMEOUT_S = 60.0


def download_csv(url: str, staging_path: str, timeout: float = DEFAULT_TIMEOUT_S) -> str:
    """Driver-side HTTP GET -> staging file (fail-fast on HTTP errors).

    Mirrors the reference's requests.get + raise_for_status semantics
    (etl_pipeline.py:51-52) using only the stdlib.
    """
    os.makedirs(os.path.dirname(staging_path) or ".", exist_ok=True)
    with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
        status = getattr(resp, "status", 200)
        if status >= 400:
            raise OSError(f"HTTP {status} fetching {url}")
        data = resp.read()
    with open(staging_path, "wb") as f:
        f.write(data)
    return staging_path


def stage_csv(path_or_url: str) -> str:
    """Local path for a ``--csv`` argument: an http(s) URL is downloaded
    to a fresh staging directory, anything else passes through unchanged."""
    if not path_or_url.startswith(("http://", "https://")):
        return path_or_url
    staging = os.path.join(tempfile.mkdtemp(prefix="vax_staging_"), "wide.csv")
    return download_csv(path_or_url, staging)


def read_wide_csv(spark: SparkSession, path: str) -> DataFrame:
    """Lazy CSV scan with header + schema inference (raw staging table).

    Inference mirrors the reference's ``pd.read_csv`` behavior for the
    untouched staging copy (etl_pipeline.py:53,81).  It costs a full
    pass over the file before the scan, so `run_etl` runs it in the raw
    writer thread, beside the clean write; the clean chain reads with
    `read_wide_csv_strings` instead.
    """
    return spark.read.option("header", True).option("inferSchema", True).csv(path)


def read_wide_csv_strings(spark: SparkSession, path: str) -> DataFrame:
    """Lazy CSV scan with header and no inference: every column is a
    string.

    For a local file the header line is read here and passed as an
    all-string schema, so the scan costs no Spark job before the one
    that consumes it (Spark's own header read is one job per scan);
    any other path lets Spark read the header.  Unnamed columns get
    Spark's ``_c<i>`` names.  The clean chain types the columns it
    keeps itself (``try_cast`` in `clean_immunization`), so one
    unparseable cell becomes one dropped, counted row instead of
    turning its whole column into strings.
    """
    reader = spark.read.option("header", True)
    if not os.path.isfile(path):
        return reader.csv(path)
    with open(path, newline="", encoding="utf-8-sig") as f:
        header = next(csv.reader(f), [])
    return reader.schema(
        T.StructType([T.StructField(n or f"_c{i}", T.StringType()) for i, n in enumerate(header)])
    ).csv(path)
