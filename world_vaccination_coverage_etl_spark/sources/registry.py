"""Star-schema table registry over the driver-generated parquet.

``load_table(spark, sf_dir, name)`` is the single scan entry point the
query layer uses — it keeps every query's source declarative
(``spark.read.parquet``) so Catalyst gets predicate pushdown, column
pruning, and row-group skipping for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def events_ts_is_nanos(sf_dir: str) -> bool:
    """Probe the events parquet footer for the physical type of ``ts``.

    One driver-side footer read (no data IO).  Returns True when the
    column is TIMESTAMP(NANOS) (or a raw int64 of nanos) — the legacy
    testdata layout Spark 4 can only read via
    ``spark.sql.legacy.parquet.nanosAsLong`` — and False when it is a
    normal micro/milli timestamp Spark reads natively.  Hardcoding
    either answer is exactly the fixture-drift bug this helper replaces:
    the physical layout is an environmental detail, so inspect it.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    if pa.types.is_timestamp(t) and t.unit != "ns":
        return False
    return True


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema table from ``sf_dir`` (lazy parquet scan).

    ``events.ts`` is schema-adaptive: some testdata generations write it
    as TIMESTAMP(NANOS) (which Spark 4 refuses to read natively —
    PARQUET_TYPE_ILLEGAL), others as a plain microsecond timestamp.  We
    probe the footer and branch: nanos → legacy long read + truncate to
    micros (bit-identical to how DuckDB/pyarrow surface the column);
    native → cast TIMESTAMP_NTZ to TIMESTAMP so event-time operators
    accept the column (the NTZ→LTZ→collect round-trip preserves wall
    clock values in any session timezone, matching DuckDB).
    The conf is set here (not only in our session factory) because the
    driver harness calls queries under its own SparkSession.
    """
    if name == "events":
        if events_ts_is_nanos(sf_dir):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
            return raw.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        # native micro timestamps surface as TIMESTAMP_NTZ; cast to LTZ
        # so event-time ops (withWatermark, session_window) accept the
        # column.  NTZ→LTZ→collect round-trips identically in any
        # session timezone, so oracle hashes are unaffected.
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

