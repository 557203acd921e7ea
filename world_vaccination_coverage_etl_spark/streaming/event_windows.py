"""Event-time windowed aggregation over the events table.

Batch and streaming flavors share the same windowing expressions —
``F.window`` works identically in both; the streaming flavor adds a
watermark for state cleanup (late data beyond the watermark is
dropped, the standard Structured Streaming contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def tumbling_event_counts(
    events: DataFrame, duration: str = "1 day", ts_col: str = "ts"
) -> DataFrame:
    """Tumbling event-time windows: count + sum(value) per (window, type)."""
    return (
        events.groupBy(F.window(F.col(ts_col), duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    duration: str = "2 days",
    slide: str = "1 day",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding windows (each event lands in duration/slide windows)."""
    return (
        events.groupBy(F.window(F.col(ts_col), duration, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_tumbling_to_files(
    spark: SparkSession,
    source_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    duration: str = "1 day",
    watermark: str = "1 day",
    path_glob: str | None = None,
    ts_from_nanos: bool = False,
):
    """Scale-safe streaming flavor: file source → watermark → tumbling
    agg → **append-mode parquet sink**.

    Unlike a complete-mode memory sink (a correctness harness that
    materializes the whole aggregate on the driver every trigger), this
    is the shape that survives production scale: append mode emits each
    window exactly once, when the watermark passes its end — so state
    is evicted continuously and nothing ever accumulates on the driver.
    Output lands as parquet files partition-parallel.  Returns the
    started StreamingQuery; windows with ``window_end <= max(ts) -
    watermark`` are on disk after termination (AvailableNow).
    """
    reader = spark.readStream.schema(schema)
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    stream = reader.parquet(source_dir)
    if ts_from_nanos:
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = tumbling_event_counts(stream.withWatermark("ts", watermark), duration)
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def two_level_window_rollup(
    events_stream: DataFrame,
    hourly: str = "1 hour",
    daily: str = "1 day",
    ts_col: str = "ts",
) -> DataFrame:
    """CHAINED streaming aggregations — two stateful operators in one
    query (Spark ≥ 3.4 multiple-stateful-operator support; append mode).

    Level 1 tumbles raw events into hourly partials; level 2 windows
    **over the level-1 window column** (``F.window`` accepts the window
    struct as event time) and rolls the closed hourly partials into
    daily stats.  This is the production pre-aggregation cascade: the
    second operator's input volume is already windows × keys, not raw
    events, so the daily state is tiny regardless of event rate — the
    streaming analogue of partial → final aggregation.

    Eviction: both levels share the global watermark; a daily window
    emits exactly once, when ``watermark = max(ts) − delay`` passes its
    end (by then every hourly window inside it is closed, since they
    end no later than the day does).  Caller sets the watermark on the
    input stream — the delay chosen there is the single lateness
    contract for the whole cascade.
    """
    lvl1 = events_stream.groupBy(
        F.window(F.col(ts_col), hourly).alias("w1"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_hour"),
        F.sum("value").alias("v_hour"),
    )
    return (
        lvl1.groupBy(F.window("w1", daily).alias("w2"), "event_type")
        .agg(
            F.sum("n_hour").alias("n_events"),
            F.max("n_hour").alias("max_hourly"),
            F.count(F.lit(1)).alias("n_hours"),
        )
        .select(
            F.col("w2.start").alias("window_start"),
            F.col("w2.end").alias("window_end"),
            "event_type",
            "n_events",
            "max_hourly",
            "n_hours",
        )
    )


def streaming_sessionize_state(
    events_stream: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Custom stateful streaming operator: per-user session counting via
    ``applyInPandasWithState`` — the Structured Streaming escape hatch
    for operators the built-in windowing can't express.

    State per user = (last event micros, cumulative session count); a
    new session opens when the gap since the last event exceeds
    ``gap_minutes``.  Each micro-batch sorts its rows (ts, event_id)
    inside one Arrow kernel, folds them into the state, and emits the
    user's updated cumulative count (update output mode).  Within one
    batch this reproduces the batch ``sessionize`` exactly — the
    registered query pins that equivalence against the same DuckDB
    oracle.  Note the cross-batch caveat of any event-time-stateful
    operator: out-of-order arrivals ACROSS micro-batches need the
    source ordered or a watermark-driven buffer; state is per-key and
    O(1), so 10⁹ users cost ~tens of GB across the cluster — the
    shape that scales.
    """
    import pandas as pd  # noqa: F401  (kernel body)
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state):
        (user_id,) = key
        last_us, n_sessions = state.get if state.exists else (None, 0)
        frames = [pdf for pdf in pdf_iter if len(pdf)]
        if frames:
            import numpy as np

            allpdf = pd.concat(frames).sort_values(["ts_us", "event_id"])
            # vectorized gap scan: sessions opened inside this batch are
            # the >gap successive diffs; the batch's first event opens
            # one more unless it continues the carried-over session
            arr = allpdf["ts_us"].to_numpy(dtype="int64")
            n_sessions += int((np.diff(arr) > gap_us).sum())
            if last_us is None or int(arr[0]) - last_us > gap_us:
                n_sessions += 1
            last_us = int(arr[-1])
            state.update((last_us, n_sessions))
        yield pd.DataFrame({"user_id": [user_id], "n_sessions": [n_sessions]})

    prepared = events_stream.select(
        F.col(user_col).alias("user_id"),
        F.col("event_id"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_sessions long",
        stateStructType="last_us long, n_sessions long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Sessionization: gap-based session ids per user (batch flavor).

    lag(ts) over (user order by ts) → new-session flag on gap >
    threshold → running sum = session index.  Two window passes over
    the same partitioning — one shuffle total.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    # microsecond precision on the gap comparison: sub-second timestamps
    # truncated to whole seconds can flip a gap across the threshold
    # (engine-vs-oracle drift); unix_micros ≡ DuckDB epoch_us.
    gap_us = gap_minutes * 60 * 1_000_000
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.unix_micros(F.col(ts_col)) - F.lag(F.unix_micros(F.col(ts_col))).over(w)
            > gap_us,
            1,
        )
        .otherwise(0)
        .cast("int"),
    )
    return flagged.withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
