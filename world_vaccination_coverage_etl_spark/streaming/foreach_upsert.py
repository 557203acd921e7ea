"""Streaming keyed upsert via ``foreachBatch`` — the production sink
pattern for "keep the latest row per key" materialized views.

Structured Streaming's built-in file sink is append-only; keyed merges
go through ``foreachBatch``, which hands each micro-batch to arbitrary
batch code exactly-once-per-batch-id.  On a real deployment the batch
body is a transactional ``MERGE INTO`` (Delta/Iceberg/Hudi) so only
touched partitions rewrite; plain parquet has no transaction log, so
this module implements the same semantics as read + latest-per-key +
atomic-swap overwrite, with the combine materialized (eager
``stage``) before the target is deleted.  The SEMANTICS —
incremental micro-batches, per-key last-write-wins with a total
(ts, id) tiebreak, idempotent re-delivery — are the production
contract; swap the body for MERGE INTO when a table format is present.

State: none in the stream itself (the merge is stateless per batch;
the "state" lives in the warehouse), so no watermark is needed and
arbitrarily late keys still upsert correctly — a property the built-in
stateful operators can't give you.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.staging import stage


def latest_per_key(
    df: DataFrame, key_col: str, ts_col: str, tiebreak_col: str
) -> DataFrame:
    """One row per key: greatest (ts, tiebreak) wins — total order, so
    the result is deterministic under any arrival/partition order."""
    w = Window.partitionBy(key_col).orderBy(
        F.desc(ts_col), F.desc(tiebreak_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def streaming_upsert_parquet(
    spark: SparkSession,
    source_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    path_glob: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Start an AvailableNow stream that upserts each micro-batch into
    ``out_dir`` (latest row per ``key_col``).  Returns the query."""
    reader = spark.readStream.schema(schema)
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(source_dir)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        fresh = latest_per_key(batch_df, key_col, ts_col, tiebreak_col)
        if os.path.isdir(out_dir) and any(
            f.endswith(".parquet") for f in os.listdir(out_dir)
        ):
            current = spark.read.parquet(out_dir)
            fresh = latest_per_key(
                current.unionByName(fresh), key_col, ts_col, tiebreak_col
            )
        # materialize BEFORE the overwrite deletes the files the plan
        # reads (plain parquet has no snapshot isolation; a table
        # format's MERGE INTO replaces this whole dance)
        fresh = stage(fresh, "upsert_fresh", eager=True)
        fresh.write.mode("overwrite").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
