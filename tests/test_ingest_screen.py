"""Streaming continuous-crawl near-dup ingest (streaming/ingest_screen.py):
cross-batch screening via the growing index, checkpoint restart, and
the index-as-ledger replay idempotence."""

from __future__ import annotations

from pyspark.sql import functions as F

from world_vaccination_coverage_etl_spark.streaming.ingest_screen import (
    init_ingest_state,
    streaming_neardup_ingest,
)

SCHEMA = "doc_id long, text string"

CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "completely different content about spark engines and shuffles"),
]


def _write(spark, path, rows):
    """One plain parquet FILE per micro-batch (the file-stream source
    does not recurse into Spark-style output directories)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, str(path))
    # the file source runs files in modification-time order at ms
    # resolution; two quick writes usually tie and then run in directory
    # listing order, so each file is stamped 1 s after the newest before it
    import os

    prior = [p.stat().st_mtime for p in path.parent.iterdir() if p != path]
    if prior:
        stamp = max(prior) + 1.0
        os.utime(path, (stamp, stamp))


def _accepted(spark, accepted_dir):
    return {
        r.doc_id for r in spark.read.parquet(accepted_dir).collect()
    }


def test_streaming_ingest_screens_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    idx, acc, ck = (
        str(tmp_path / "idx"),
        str(tmp_path / "acc"),
        str(tmp_path / "ck"),
    )
    init_ingest_state(spark.createDataFrame(CORPUS, SCHEMA), idx, acc)

    # batch 1: a near-dup of corpus doc 0 (drop) + a novel doc (keep)
    _write(spark, src / "b1.parquet", [
        (10, "the quick brown fox jumps over the lazy dog near the river edge"),
        (11, "a totally novel document about distributed query planning today"),
    ])
    # batch 2: a near-dup of batch-1's KEEPER (drop — caught only via
    # the index grown in batch 1) + a novel doc + an empty doc
    _write(spark, src / "b2.parquet", [
        (20, "a totally novel document about distributed query planning now"),
        (21, "fresh subject matter entirely unlike anything screened before"),
        (22, "   "),
    ])
    q = streaming_neardup_ingest(
        spark, str(src), SCHEMA, idx, acc, ck,
        threshold=0.6, max_files_per_trigger=1,
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1  # really ran two micro-batches

    assert _accepted(spark, acc) == {0, 1, 11, 21}
    # the index holds signatures for exactly the accepted docs
    idx_ids = {
        r.doc_id
        for r in spark.read.parquet(idx).select("doc_id").distinct().collect()
    }
    assert idx_ids == {0, 1, 11, 21}

    # checkpoint restart with no new files: nothing reprocesses
    q2 = streaming_neardup_ingest(
        spark, str(src), SCHEMA, idx, acc, ck, threshold=0.6
    )
    q2.awaitTermination()
    assert _accepted(spark, acc) == {0, 1, 11, 21}


def test_streaming_ingest_replay_is_idempotent_via_index(spark, tmp_path):
    """Even with a LOST checkpoint (full re-delivery), the index is
    the ledger: every replayed keeper exactly matches its prior copy
    (Jaccard 1.0) and is dropped — the accepted set cannot double."""
    src = tmp_path / "src"
    src.mkdir()
    idx, acc = str(tmp_path / "idx"), str(tmp_path / "acc")
    init_ingest_state(spark.createDataFrame(CORPUS, SCHEMA), idx, acc)
    _write(spark, src / "b1.parquet", [
        (10, "a totally novel document about distributed query planning today"),
    ])
    q = streaming_neardup_ingest(
        spark, str(src), SCHEMA, idx, acc, str(tmp_path / "ck1")
    )
    q.awaitTermination()
    assert _accepted(spark, acc) == {0, 1, 10}

    # fresh checkpoint -> the same file re-delivers wholesale
    q2 = streaming_neardup_ingest(
        spark, str(src), SCHEMA, idx, acc, str(tmp_path / "ck2")
    )
    q2.awaitTermination()
    rows = spark.read.parquet(acc).collect()
    assert len(rows) == 3 and {r.doc_id for r in rows} == {0, 1, 10}
