"""Event-time windowed streaming skyline: per-window frontiers from a
multi-batch stream must equal the batch windowed_skyline; late rows are
dropped by policy without corrupting emitted frontiers."""

import uuid

from pyspark.sql import functions as F

from pyspark_skyline_spark.operators.skyline import _compute_bounds, skyline, windowed_skyline
from pyspark_skyline_spark.streaming.windowed import windowed_stream_skyline

DIMS = [("value", "max"), ("event_id", "min")]


def _run_stream(spark, stream, bounds, delay):
    out = windowed_stream_skyline(
        stream, "ts", "1 day", DIMS, bounds, delay=delay, partitions=4
    )
    name = f"wsky_{uuid.uuid4().hex[:6]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _per_window_frontiers(df):
    return {
        (r.window_start, r.value, r.event_id)
        for r in df.select("window_start", "value", "event_id").dropDuplicates().collect()
    }


def test_windowed_stream_skyline_matches_batch(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    )
    src = str(tmp_path / "events_stream")
    events.repartition(3).write.parquet(src)  # 3 unordered files -> >= 3 micro-batches
    bounds = _compute_bounds(events, DIMS)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # delay larger than the data span: no row is late, so the union of
    # update-mode emissions covers every window completely
    emitted = _run_stream(spark, stream, bounds, delay="3650 days")
    assert emitted.count() > 0
    reduced = skyline(
        emitted.select("window_start", "value", "event_id"),
        DIMS,
        by=["window_start"],
    )
    want = windowed_skyline(events, "ts", "1 day", DIMS)
    assert _per_window_frontiers(reduced) == _per_window_frontiers(want)


def test_windowed_stream_skyline_drops_late_rows(spark, tmp_path):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    import os
    import time

    src = tmp_path / "late_stream"
    files = [
        # day-10 events: the watermark moves to 12:00
        [(1, "2024-01-10 12:00:00", 5.0), (2, "2024-01-10 13:00:00", 7.0)],
        # day-1 events, far behind that watermark: dropped, and their
        # window never emits
        [(3, "2024-01-01 12:00:00", 9.0)],
        # a NaN row with the latest event time: it never enters state or
        # the output, but it still moves the watermark to 19:00 ...
        [(4, "2024-01-10 20:00:00", float("nan"))],
        # ... so this row, on time against the 12:00 watermark, is late
        [(5, "2024-01-10 14:00:00", 9.5)],
    ]
    # the file source orders batches by modification time: space the
    # files' times out in write order so batch order is deterministic
    seen = set()
    now = time.time()
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, "event_id long, ts string, value double").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "value"
        ).coalesce(1).write.mode("append").parquet(str(src))
        for p in set(src.glob("part-*.parquet")) - seen:
            os.utime(p, (now - 100 + 10 * i, now - 100 + 10 * i))
            seen.add(p)
    bounds = {"value": (0.0, 10.0), "event_id": (0.0, 10.0)}

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    emitted = _run_stream(spark, stream, bounds, delay="1 hour")
    starts = {r.window_start.day for r in emitted.select("window_start").collect()}
    assert starts == {10}  # the late day-1 window never emits
    ids = {r.event_id for r in emitted.collect()}
    assert ids == {1, 2}  # neither the NaN row nor the row it made late


def test_windowed_stream_skyline_rejects_non_utc_session(spark, sf_dir):
    import pytest

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    bounds = _compute_bounds(
        events.withColumn("ts", F.col("ts").cast("timestamp")), DIMS
    )
    stream = spark.readStream.schema(events.schema).parquet(sf_dir + "/events.parquet")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="session.timeZone"):
            windowed_stream_skyline(stream, "ts", "1 day", DIMS, bounds, partitions=4)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
