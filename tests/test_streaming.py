"""Streaming tests: event-time windows and sessions."""

from __future__ import annotations

import datetime as dt

from world_vaccination_coverage_etl_spark.streaming.event_windows import (
    sessionize,
    sliding_event_counts,
    tumbling_event_counts,
)


def _events(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: two sessions (gap of 2h between event 2 and 3)
        (0, base, 1, "click", 1.0),
        (1, base + dt.timedelta(minutes=10), 1, "click", 2.0),
        (2, base + dt.timedelta(minutes=20), 1, "view", 3.0),
        (3, base + dt.timedelta(hours=2, minutes=25), 1, "click", 4.0),
        # user 2: one session, crosses a day boundary
        (4, base + dt.timedelta(hours=23, minutes=55), 2, "view", 5.0),
        (5, base + dt.timedelta(hours=24, minutes=5), 2, "view", 6.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_sessionize_gap_splits(spark):
    out = sessionize(_events(spark), gap_minutes=30)
    per_user = {}
    for r in out.collect():
        per_user.setdefault(r.user_id, set()).add(r.session_idx)
    assert per_user[1] == {0, 1}
    assert per_user[2] == {0}


def test_tumbling_daily_counts(spark):
    out = tumbling_event_counts(_events(spark), "1 day").collect()
    by_key = {(r.window_start.day, r.event_type): r.n_events for r in out}
    assert by_key[(1, "click")] == 3
    assert by_key[(1, "view")] == 2
    assert by_key[(2, "view")] == 1


def test_sliding_windows_double_count(spark):
    out = sliding_event_counts(_events(spark), "2 days", "1 day")
    total = sum(r.n_events for r in out.collect())
    # every event lands in exactly duration/slide = 2 windows
    assert total == 2 * _events(spark).count()


def test_streaming_sessionize_state_across_batches(spark, tmp_path):
    """applyInPandasWithState carries (last_ts, count) state across
    micro-batches: maxFilesPerTrigger=1 forces one batch per file."""
    import uuid

    from pyspark.sql import functions as F

    from world_vaccination_coverage_etl_spark.streaming.event_windows import (
        streaming_sessionize_state,
    )

    base = dt.datetime(2024, 1, 1)
    src = tmp_path / "events_src"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long"
    # batch 1: one session (10 min gap); batch 2: 2h later -> new session
    spark.createDataFrame(
        [(0, base, 1), (1, base + dt.timedelta(minutes=10), 1)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(2, base + dt.timedelta(hours=2, minutes=10), 1)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    agg = streaming_sessionize_state(stream, gap_minutes=30)
    qname = f"sess_state_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    mem = spark.table(qname)
    # at least two emissions for user 1 (one per batch), final count 2
    assert mem.count() >= 2
    final = (
        mem.groupBy("user_id").agg(F.max("n_sessions").alias("n")).collect()
    )
    assert {(r.user_id, r.n) for r in final} == {(1, 2)}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate keys arriving within the watermark delay are
    suppressed; each key's first arrival is emitted exactly once."""
    import uuid

    from pyspark.sql import functions as F

    from world_vaccination_coverage_etl_spark.streaming.dedup_stream import (
        dedup_within_watermark,
    )

    src = tmp_path / "events"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, "click", 1.0),
        (1, base + dt.timedelta(minutes=5), "click", 1.0),   # dup, later copy
        (2, base, "view", 2.0),
        (2, base, "view", 2.0),                              # dup, same ts
        (3, base + dt.timedelta(hours=2), "click", 3.0),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    ).write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double"
    ).parquet(str(src))
    qname = f"dedup_test_{uuid.uuid4().hex[:8]}"
    q = (
        dedup_within_watermark(stream, ["event_id"], delay="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(qname).collect()
    assert sorted(r.event_id for r in out) == [1, 2, 3]
    # one row per key, not per copy
    assert len(out) == 3
    by_id = {r.event_id: r for r in out}
    assert by_id[1].event_type == "click" and by_id[3].value == 3.0


def test_enrich_with_dim_joins_and_validates(spark, tmp_path):
    """Stream-static enrichment: every streamed row picks up its dim
    attribute; invalid join types / swapped arguments are rejected."""
    import uuid

    import pytest

    from world_vaccination_coverage_etl_spark.streaming.enrich import (
        enrich_with_dim,
    )

    src = tmp_path / "facts"
    src.mkdir()
    spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0), (3, 10, 3.0)],
        "event_id long, user_id long, value double",
    ).write.mode("overwrite").parquet(str(src))
    dim = spark.createDataFrame(
        [(10, "DE"), (20, "FR")], "user_id long, country string"
    )
    stream = spark.readStream.schema(
        "event_id long, user_id long, value double"
    ).parquet(str(src))

    with pytest.raises(ValueError, match="stream-static join supports"):
        enrich_with_dim(stream, dim, ["user_id"], how="full_outer")
    with pytest.raises(ValueError, match="must be a streaming"):
        enrich_with_dim(dim, dim, ["user_id"])
    with pytest.raises(ValueError, match="must be a static"):
        enrich_with_dim(stream, stream, ["user_id"])

    qname = f"enrich_test_{uuid.uuid4().hex[:8]}"
    q = (
        enrich_with_dim(stream, dim, ["user_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r.event_id: r.country for r in spark.table(qname).collect()}
    assert out == {1: "DE", 2: "FR", 3: "DE"}


def test_attribution_outer_emits_unmatched_tail(spark):
    """The outer attribution's purchase_id=-1 tail emits during the
    trailing NO-DATA micro-batch (watermark-driven state eviction) —
    the batch the inner sibling now skips (no_data_batches=False).
    Pins (a) the tail still exists for the outer query, (b) skipping
    the no-data batch on the INNER query loses no rows: inner pairs ==
    outer matched pairs.
    """
    from world_vaccination_coverage_etl_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    outer = REGISTRY["stream_attribution_outer"].fn(spark, sf).collect()
    inner = REGISTRY["stream_click_attribution"].fn(spark, sf).collect()
    assert any(r.purchase_id == -1 for r in outer)
    outer_matched = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in outer
        if r.purchase_id != -1
    }
    assert {
        (r.user_id, r.click_id, r.purchase_id) for r in inner
    } == outer_matched


def test_file_sink_resume_pool_identical_results(spark):
    """Re-invoking a FILE-SINK streaming query in one process resumes
    its exactly-once stream (same checkpoint + sink): no recompute, no
    duplicate output, identical result (r10 warm-pool item)."""
    from world_vaccination_coverage_etl_spark.queries import REGISTRY
    from world_vaccination_coverage_etl_spark.queries import (
        m05_events_streaming as m05,
    )

    sf = "/root/testdata/sf0.001"
    for name in ("streaming_tumbling_append", "streaming_sink_jsonl_events"):
        first = REGISTRY[name].fn(spark, sf).toPandas()
        key_count = len(m05._RESUME_POOL)
        second = REGISTRY[name].fn(spark, sf).toPandas()
        assert len(m05._RESUME_POOL) == key_count  # reused, not re-made
        assert first.equals(second), name
