"""Streaming driver-row query functions (Structured Streaming paths).

Split out of ``entry_ext.py`` in round 7 (pure code health, zero
behavior change): every ``_q_*`` that drives the real streaming engine
(micro-batch, state store, watermarks) plus the ``_state_partitions``
helper that sizes streaming state partitioning to the state.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

from pyspark_skyline_spark.entry_params import _VOCAB_K
from pyspark_skyline_spark.operators import text as T
from pyspark_skyline_spark.operators.skyline import skyline
from pyspark_skyline_spark.sources.tables import load_table

_NODATA_CONF = "spark.sql.streaming.noDataMicroBatches.enabled"


@contextmanager
def _state_partitions(spark, n: int = 8, nodata: bool = True):
    """Run a stateful streaming query with its state partition count
    sized to the STATE instead of the session's batch-analytics shuffle
    default. Stateful operators keep one-or-more state stores per
    shuffle partition and every micro-batch (including the trailing
    0-input watermark-advance batch) commits every instance, so at the
    bench's state sizes (thousands of rows) wall time tracks the
    instance count, not the compute — profiled in
    ``_q_stream_join_events``'s docstring. Streaming state partitioning
    is checkpoint-pinned and AQE-exempt, so explicit sizing is the
    correct practice at 100 TB too (there you size UP for state
    volume). Restores the session conf on exit for the batch rows that
    follow.

    ``nodata=False`` additionally disables the trailing no-data
    micro-batch for queries whose OUTPUT provably cannot depend on it —
    inner stream-stream joins (matches are emitted in data batches; the
    no-data batch only evicts state) and update-mode / foreachBatch
    stateful queries (a timeout emits nothing, an empty foreachBatch is
    skipped). That final batch costs a full commit cycle across every
    state-store instance (measured round 14: ~0.9-1.1 s per availableNow
    row at 8 partitions), the same cycle a 100 TB availableNow run pays.
    APPEND-mode watermarked aggregations MUST keep it: the no-data batch
    is what flushes windows closed by the final watermark (verified:
    disabling it there returns 0 rows)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_nodata = spark.conf.get(_NODATA_CONF, "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    if not nodata:
        spark.conf.set(_NODATA_CONF, "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set(_NODATA_CONF, old_nodata)


def _q_stream_window_stats_orders(spark, sf_dir):
    # watermarked tumbling-window aggregation through the REAL streaming
    # engine (append mode): a single-file/single-batch stream leaves the
    # watermark at max(o_orderdate) - 1 day after the data batch, and the
    # trailing no-data batch flushes exactly the windows closed by then —
    # deterministic, so a batch SQL oracle can reproduce the emitted set
    import os
    import uuid

    from pyspark_skyline_spark.streaming.watermark import windowed_stream_stats

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/orders.parquet"
    static = spark.read.parquet(path)
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )
    stream = stream.select(
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.col("o_totalprice").alias("v"),
    )
    out = windowed_stream_stats(stream, "ts", "v", "30 days", delay="1 day")
    name = f"wm_stats_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        "window_start",
        "window_end",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.col("sum_value"), 2).alias("sum_value"),
        F.round(F.col("min_value"), 2).alias("min_value"),
        F.round(F.col("max_value"), 2).alias("max_value"),
    )


def _q_stream_session_stats_events(spark, sf_dir):
    # session windows (F.session_window) through the real streaming
    # engine: per user, events closer than 4h merge into one session
    # [first_ts, last_ts + 4h); append mode emits exactly the sessions
    # closed by the final watermark (max ts - 1h after the single data
    # batch), so a gaps-and-islands batch SQL oracle reproduces the set
    import os
    import uuid

    from pyspark_skyline_spark.streaming.watermark import session_stream_stats

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    static = spark.read.parquet(path)
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )
    if dict(static.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    out = session_stream_stats(
        stream.select("ts", "user_id"), "ts", "user_id", gap="4 hours", delay="1 hour"
    )
    name = f"wm_sess_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        "session_start",
        "session_end",
        "user_id",
        F.col("n_rows").cast("long").alias("n_rows"),
    )


def _q_stream_sliding_stats_events(spark, sf_dir):
    # sliding windows (2h window / 30min slide) through the real
    # streaming engine: every event lands in 4 overlapping windows; a
    # window emits once the final watermark (max ts - 1h) closes it, so
    # a batch SQL oracle expanding each event into its 4 windows and
    # keeping closed ones reproduces the emitted set. min/max-only
    # aggregates — no float accumulation to disagree on.
    import os
    import uuid

    from pyspark_skyline_spark.streaming.watermark import sliding_stream_stats

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    static = spark.read.parquet(path)
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )
    if dict(static.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    out = sliding_stream_stats(
        stream.select("ts", "value"), "ts", "value",
        window_duration="2 hours", slide="30 minutes", delay="1 hour",
    )
    name = f"wm_slide_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        "window_start",
        "window_end",
        F.col("n_rows").cast("long").alias("n_rows"),
        "min_value",
        "max_value",
    )


def _q_stream_skyline_orders(spark, sf_dir):
    # real Structured Streaming path (foreachBatch incremental skyline);
    # prefix == full table, so the batch skyline oracle applies exactly
    from pyspark_skyline_spark.streaming.skyline_stream import stream_table_skyline

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with _state_partitions(spark):
        res = stream_table_skyline(
            spark,
            f"{sf_dir}/orders.parquet",
            [("o_totalprice", "max"), ("o_orderdate", "min")],
        )
    return res.select("o_totalprice", "o_orderdate").dropDuplicates()


def _q_stream_vocab_documents(spark, sf_dir):
    """COMPLETE output mode through the real engine (append and update
    are covered by the other stream rows): a streaming token-count
    aggregation re-emits the full result each trigger, so after an
    availableNow replay the memory sink holds exactly the batch
    vocabulary — the batch vocab_topk SQL is an exact oracle."""
    import os
    import uuid

    path = f"{sf_dir}/documents.parquet"
    static = spark.read.parquet(path)
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )
    counts = (
        stream.select(F.explode(T.tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    name = f"svocab_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(_VOCAB_K)
    )


def _q_stream_join_events(spark, sf_dir):
    """Watermarked stream-stream interval join through the REAL engine:
    errors joined to same-user clicks within the preceding 30 minutes.
    Inner joins emit every match of the replayed data (watermarks only
    bound state), so the batch SQL interval join is an exact oracle.

    State partitioning is sized to the STATE, not to the session's
    batch-analytics shuffle default: a stream-stream join keeps FOUR
    state stores per shuffle partition, and every micro-batch commits
    every instance (including the 0-input watermark-advance batch
    availableNow appends), so the fixed cost scales with
    ``batches x partitions x 4`` store instance commits. Profiled at
    sf0.1 (~40k state rows, HDFS-backed provider): join compute <1 s,
    but wall tracked the instance count — ~7.7 s at 32 partitions
    (256 commits across 2 batches; per-instance commitTimeMs summed to
    ~42 s/66 s per batch, overlapping imperfectly across the 32 task
    threads because checkpoint file I/O and per-instance maintenance
    partially serialize), ~2.9 s at 8 partitions (64 commits), ~2.4 s
    at 4. Streaming state partitioning is an explicit,
    checkpoint-pinned knob (it cannot AQE-coalesce and cannot change
    on restart), so sizing it deliberately is the correct 100 TB
    practice too — there you'd size UP for state volume; here 8
    partitions carry ~5k state rows each.
    """
    import os
    import uuid

    from pyspark_skyline_spark.streaming.joins import stream_interval_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    static = spark.read.parquet(path)
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )
    errors = stream.filter(F.col("event_type") == "error")
    clicks = stream.filter(F.col("event_type") == "click")
    joined = stream_interval_join(
        errors, clicks, "ts", "ts", by=["user_id"],
        max_delay="30 minutes", watermark="1 hour",
    ).select(
        F.col("event_id").alias("err_id"),
        F.col("r_event_id").alias("click_id"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("r_ts").cast("timestamp"))
        ).alias("gap_us"),
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    # inner-join emissions all happen in data batches; the trailing
    # no-data batch only evicts state (see _state_partitions)
    with _state_partitions(spark, nodata=False):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def _q_windowed_stream_skyline(spark, sf_dir):
    # per-day skyline through the REAL applyInPandasWithState path:
    # union of update-mode frontier emissions, reduced per window with
    # the batch operator (stage-2 equivalent), equals the batch windowed
    # skyline — so the batch SQL oracle applies exactly
    import os
    import uuid

    from pyspark_skyline_spark.operators.skyline import _compute_bounds
    from pyspark_skyline_spark.streaming.windowed import windowed_stream_skyline

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dims = [("value", "max"), ("event_id", "min")]
    path = f"{sf_dir}/events.parquet"
    static = spark.read.parquet(path)
    if dict(static.dtypes).get("ts") == "bigint":
        static = static.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    bounds = _compute_bounds(static, dims)
    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    out = windowed_stream_skyline(
        stream.select("ts", "value", "event_id"), "ts", "1 day", dims, bounds,
        partitions=8,
    )
    name = f"wsky_{uuid.uuid4().hex[:8]}"
    # update-mode emissions happen on data; the trailing no-data batch
    # only fires EventTimeTimeouts, whose handler emits nothing (see
    # _state_partitions; in a continuous run keep it for state cleanup)
    with _state_partitions(spark, nodata=False):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    emissions = spark.table(name).drop("__sky_cell")
    reduced = skyline(emissions, dims, by=["window_start"])
    return reduced.select("window_start", "value", "event_id").dropDuplicates()


def _q_two_stage_skyline(spark, sf_dir):
    # the reference's flagship two-CONCURRENT-query topology
    # (stream_job.py:87-206) as the composed single-pipeline equivalent:
    # stage-1 state-store cell frontiers -> stage-2 foreachBatch global
    # merge; prefix == full table, so the batch skyline oracle applies
    import os

    from pyspark_skyline_spark.operators.skyline import _compute_bounds
    from pyspark_skyline_spark.streaming.two_stage import run_two_stage_skyline_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dims = [("o_totalprice", "max"), ("o_orderdate", "min")]
    path = f"{sf_dir}/orders.parquet"
    static = spark.read.parquet(path)
    bounds = _compute_bounds(static, dims)
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )
    # foreachBatch skips empty batches and the stage-1 state op has no
    # watermark/timeout: the trailing no-data batch commits every store
    # instance and emits nothing (see _state_partitions)
    with _state_partitions(spark, nodata=False):
        state, q = run_two_stage_skyline_stream(stream, dims, bounds, partitions=16)
        q.awaitTermination()
    return state.result().select("o_totalprice", "o_orderdate").dropDuplicates()


def _q_stream_enrich_events(spark, sf_dir):
    """Stream-static enrichment join through the REAL engine: streaming
    events looked up against the static customer dimension (broadcast,
    stateless per micro-batch). Inner stream-static joins emit every
    match of the replayed data, so the batch SQL join is an exact
    oracle."""
    import os
    import uuid

    from pyspark_skyline_spark.streaming.joins import stream_static_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    static_ev = spark.read.parquet(path)
    stream = (
        spark.readStream.schema(static_ev.schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .withColumnRenamed("c_custkey", "user_id")
        .select("user_id", "c_name", "c_acctbal")
    )
    joined = stream_static_join(stream, dim, ["user_id"], how="inner").select(
        "event_id", "user_id", "c_name", F.round("c_acctbal", 2).alias("acctbal")
    )
    name = f"enr_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def _q_stream_snapshot_diff_events(spark, sf_dir):
    """Streaming changed-keys-only upsert planning through the REAL
    foreachBatch engine (round 10 —
    streaming/curation.py::run_snapshot_diff_stream, the streaming
    composition of operators/upsert.py::snapshot_diff): the events
    table arrives as three keyed upsert batches (``event_id % 3``,
    maxFilesPerTrigger=1 over mtime-ordered files -> batch k IS epoch
    k), each batch collapsed latest-wins per user by ``event_id`` and
    diffed against the accumulated state view. Output: one
    (epoch, user_id, status) row per batch key.

    Exactly SQL-oracle-able because state-after-epoch-k per key IS the
    key's latest collapsed row at any epoch <= k: the oracle replays
    the whole history with one ``lag() OVER (PARTITION BY user_id
    ORDER BY ep)`` — a previous-epoch NULL means ``added``, null-safe
    equality on the compared columns picks ``unchanged`` vs
    ``changed``. Compared doubles are carried verbatim from parquet
    (no arithmetic), so equality is exact in both engines."""
    import os
    import tempfile
    import time

    from pyspark_skyline_spark.streaming.curation import run_snapshot_diff_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        (F.col("event_id") % 3).alias("__ep"),
    )
    work = tempfile.mkdtemp(prefix="sdstream_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    now = time.time()
    for k in range(3):
        path = os.path.join(src, f"b{k}.parquet")
        ev.where(F.col("__ep") == k).drop("__ep").coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        t = now - 30 + 10 * k
        for root, _, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
        os.utime(path, (t, t))
    schema = ev.drop("__ep").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = os.path.join(work, "out")
    try:
        with _state_partitions(spark):
            q = run_snapshot_diff_stream(
                stream,
                out,
                os.path.join(work, "state"),
                ["user_id"],
                checkpoint_dir=os.path.join(work, "chk"),
                compare_cols=["event_type", "value"],
                order_col="event_id",
            )
            finished = q.awaitTermination(300)
            if not finished:
                q.stop()
                raise RuntimeError("snapshot-diff stream did not finish")
        # eager checkpoint detaches the (small — one status row per
        # batch key) result from the temp files so the whole work dir
        # can be removed NOW: without this, every warmup + timed pass
        # leaked a full re-write of the events table to /tmp until the
        # disk filled (review find)
        return (
            spark.read.parquet(out)
            .select(
                F.col("epoch").cast("long").alias("epoch"),
                "user_id",
                "status",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)
