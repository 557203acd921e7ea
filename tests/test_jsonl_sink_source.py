"""Manifest-committed JSONL sink: commit-protocol semantics."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from world_vaccination_coverage_etl_spark.sources.jsonl_sink_source import (
    MANIFEST,
    register_jsonl_manifest,
)


def _write(spark, df, path, mode="overwrite"):
    register_jsonl_manifest(spark)
    df.write.format("jsonl_manifest").mode(mode).save(path)


def _read(spark, path, ddl):
    register_jsonl_manifest(spark)
    return spark.read.format("jsonl_manifest").schema(ddl).load(path)


def _id_batch(*ids):
    """One Arrow RecordBatch for direct Arrow-writer write() calls
    (the write contract is Iterator[RecordBatch] since the sink moved
    to DataSourceStreamArrowWriter)."""
    import pyarrow as pa

    return iter([pa.record_batch({"id": pa.array(list(ids), pa.int64())})])



def test_round_trip_with_types(spark, tmp_path):
    p = str(tmp_path / "t1")
    df = spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("name_"), F.col("id")).alias("s"),
        F.to_timestamp(F.lit("2024-03-01 12:00:00")).alias("ts"),
    )
    _write(spark, df.repartition(4), p)
    back = _read(spark, p, "id long, v double, s string, ts timestamp")
    assert back.count() == 100
    r = back.filter(F.col("id") == 7).collect()[0]
    assert r.v == 10.5 and r.s == "name_7" and r.ts.month == 3
    # manifest row counts sum to the table count
    man = json.load(open(os.path.join(p, MANIFEST)))
    assert sum(e["n_rows"] for e in man["files"]) == 100


def test_readers_see_only_manifest_committed_files(spark, tmp_path):
    p = str(tmp_path / "t2")
    _write(spark, spark.range(0, 10).select(F.col("id")), p)
    # simulate a speculative/failed attempt's leftovers: a stray data
    # file in the directory and garbage in staging — neither is listed
    with open(os.path.join(p, "part-99999-stray.jsonl"), "w") as fh:
        fh.write('{"id": 12345}\n')
    os.makedirs(os.path.join(p, "_staging", "deadjob"), exist_ok=True)
    with open(
        os.path.join(p, "_staging", "deadjob", "task-x.jsonl"), "w"
    ) as fh:
        fh.write('{"id": 54321}\n')
    got = {r.id for r in _read(spark, p, "id long").collect()}
    assert got == set(range(10))  # stray rows invisible


def test_overwrite_replaces_and_append_accumulates(spark, tmp_path):
    p = str(tmp_path / "t3")
    _write(spark, spark.range(0, 5).select(F.col("id")), p)
    _write(spark, spark.range(100, 103).select(F.col("id")), p, mode="overwrite")
    got = {r.id for r in _read(spark, p, "id long").collect()}
    assert got == {100, 101, 102}  # old files delisted even if present
    _write(spark, spark.range(200, 202).select(F.col("id")), p, mode="append")
    got = {r.id for r in _read(spark, p, "id long").collect()}
    assert got == {100, 101, 102, 200, 201}


def test_nulls_round_trip(spark, tmp_path):
    p = str(tmp_path / "t4")
    df = spark.range(0, 6).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.col("id") * 10).alias("maybe"),
    )
    _write(spark, df, p)
    back = _read(spark, p, "id long, maybe long")
    assert back.filter(F.col("maybe").isNull()).count() == 3


def test_time_travel_reads_old_snapshots(spark, tmp_path):
    p = str(tmp_path / "t5")
    _write(spark, spark.range(0, 4).select(F.col("id")), p)               # v1
    _write(spark, spark.range(10, 13).select(F.col("id")), p, "overwrite")  # v2
    _write(spark, spark.range(20, 22).select(F.col("id")), p, "append")     # v3
    register_jsonl_manifest(spark)

    def at(v):
        return {
            r.id
            for r in spark.read.format("jsonl_manifest")
            .schema("id long")
            .option("version", v)
            .load(p)
            .collect()
        }

    assert at(1) == {0, 1, 2, 3}
    assert at(2) == {10, 11, 12}
    assert at(3) == {10, 11, 12, 20, 21}
    assert {r.id for r in _read(spark, p, "id long").collect()} == at(3)


def _start_stream(spark, src_dir, table, ck):
    register_jsonl_manifest(spark)
    stream = spark.readStream.schema("id long, v double").parquet(src_dir)
    q = (
        stream.writeStream.format("jsonl_manifest")
        .option("checkpointLocation", ck)
        .option("stream_id", "s1")
        .trigger(availableNow=True)
        .start(table)
    )
    q.awaitTermination()


def test_stream_writer_commits_batches_incrementally(spark, tmp_path):
    src = str(tmp_path / "src")
    table = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    spark.range(0, 50).selectExpr("id", "CAST(id AS DOUBLE) AS v").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    _start_stream(spark, src, table, ck)
    back = _read(spark, table, "id long, v double")
    assert back.count() == 50

    # append a second source file: ONLY the new rows land, as version 2+
    spark.range(50, 80).selectExpr("id", "CAST(id AS DOUBLE) AS v").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _start_stream(spark, src, table, ck)
    back = _read(spark, table, "id long, v double")
    assert back.count() == 80
    assert back.select("id").distinct().count() == 80
    man = json.load(open(os.path.join(table, MANIFEST)))
    assert man["stream_batches"]["s1"] >= 1
    assert man["version"] >= 2

    # a no-new-data restart commits nothing
    v_before = man["version"]
    _start_stream(spark, src, table, ck)
    man2 = json.load(open(os.path.join(table, MANIFEST)))
    assert man2["version"] == v_before


def test_stream_writer_replayed_batch_is_dropped(spark, tmp_path):
    from pyspark.sql.types import StructType

    from world_vaccination_coverage_etl_spark.sources.jsonl_sink_source import (
        JsonlStreamWriter,
    )

    table = str(tmp_path / "tbl2")
    os.makedirs(table)
    schema = StructType.fromDDL("id long")
    w = JsonlStreamWriter({"path": table, "stream_id": "s1"}, schema)
    msg = w.write(_id_batch(1, 2))
    w.commit([msg], batchId=0)
    man1 = json.load(open(os.path.join(table, MANIFEST)))
    assert sum(f["n_rows"] for f in man1["files"]) == 2

    # replay of batch 0 (crash between sink commit and checkpoint
    # advance): staged again, but commit drops it wholesale
    w2 = JsonlStreamWriter({"path": table, "stream_id": "s1"}, schema)
    msg2 = w2.write(_id_batch(1, 2))
    w2.commit([msg2], batchId=0)
    man2 = json.load(open(os.path.join(table, MANIFEST)))
    assert man2 == man1  # unchanged: no new files, no new version
    assert not os.path.exists(
        os.path.join(table, "_staging", "stream-s1")
    )

    # a DIFFERENT stream_id is its own ledger: its batch 0 commits
    w3 = JsonlStreamWriter({"path": table, "stream_id": "other"}, schema)
    msg3 = w3.write(_id_batch(9))
    w3.commit([msg3], batchId=0)
    man3 = json.load(open(os.path.join(table, MANIFEST)))
    assert sum(f["n_rows"] for f in man3["files"]) == 3
    assert man3["stream_batches"] == {"s1": 0, "other": 0}


def test_stream_writer_abort_cleans_staging_only(spark, tmp_path):
    from pyspark.sql.types import StructType

    from world_vaccination_coverage_etl_spark.sources.jsonl_sink_source import (
        JsonlStreamWriter,
    )

    table = str(tmp_path / "tbl3")
    os.makedirs(table)
    schema = StructType.fromDDL("id long")
    w = JsonlStreamWriter({"path": table}, schema)
    msg = w.write(_id_batch(1))
    w.commit([msg], batchId=0)
    w2 = JsonlStreamWriter({"path": table}, schema)
    w2.write(_id_batch(2))
    w2.abort([], batchId=1)
    assert not os.path.exists(
        os.path.join(table, "_staging", "stream-default")
    )
    back = _read(spark, table, "id long")
    assert [r.id for r in back.collect()] == [1]


def test_concurrent_stream_commits_lose_nothing(tmp_path):
    """Two writers racing on one table serialize under the commit lock.

    Pre-fix, both could read manifest version N and both publish N+1 —
    the second HEAD swap silently dropped the first stream's files and
    its stream_batches high-water mark (data loss after its checkpoint
    advanced).  Run two threads × 10 micro-batches each and require
    every committed file, both high-water marks, and a collision-free
    version chain to survive.
    """
    import threading

    from pyspark.sql.types import StructType

    from world_vaccination_coverage_etl_spark.sources.jsonl_sink_source import (
        JsonlStreamWriter,
    )

    table = str(tmp_path / "race")
    os.makedirs(table)
    schema = StructType.fromDDL("id long")
    errors = []

    def run(stream_id: str, base: int):
        try:
            w = JsonlStreamWriter(
                {"path": table, "stream_id": stream_id}, schema
            )
            for b in range(10):
                msg = w.write(_id_batch(base + b))
                w.commit([msg], batchId=b)
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    t1 = threading.Thread(target=run, args=("sA", 0))
    t2 = threading.Thread(target=run, args=("sB", 100))
    t1.start(), t2.start()
    t1.join(), t2.join()
    assert not errors, errors
    man = json.load(open(os.path.join(table, MANIFEST)))
    assert len(man["files"]) == 20  # nothing silently dropped
    assert man["stream_batches"] == {"sA": 9, "sB": 9}
    assert man["version"] == 20  # one version per commit, no collisions
    for e in man["files"]:
        assert os.path.exists(os.path.join(table, e["file"]))


def test_writer_rejects_remote_scheme(tmp_path):
    from pyspark.sql.types import StructType

    from world_vaccination_coverage_etl_spark.sources.jsonl_sink_source import (
        JsonlManifestWriter,
        JsonlStreamWriter,
    )

    schema = StructType.fromDDL("id long")
    for cls, kw in (
        (JsonlManifestWriter, {"overwrite": True}),
        (JsonlStreamWriter, {}),
    ):
        try:
            if cls is JsonlManifestWriter:
                cls({"path": "s3://bucket/tbl"}, schema, True)
            else:
                cls({"path": "s3://bucket/tbl"}, schema)
            raise AssertionError("expected ValueError for s3:// path")
        except ValueError as e:
            assert "shared" in str(e) or "os file ops" in str(e)
    # file:// is the local scheme and must be accepted (and stripped)
    w = JsonlManifestWriter(
        {"path": f"file://{tmp_path}/ok"}, schema, True
    )
    assert w.path == f"{tmp_path}/ok"
