"""applyInPandasWithState per-cell skyline: multi-batch file stream,
global frontier from union of emissions equals batch skyline; the state
store holds exactly each cell's frontier of comparable rows, for both
per-cell operators, and a restarted query resumes from it."""

import datetime as dt
import math
import os
import pickle
import time

import pytest
from pyspark.sql import functions as F

from pyspark_skyline_spark import skyline
from pyspark_skyline_spark.kernel import find_skyline_mask
from pyspark_skyline_spark.operators.skyline import (
    _CELL,
    _comparable,
    _compute_bounds,
    _minspace_exprs,
    _mr_dim_key,
)
from pyspark_skyline_spark.streaming import stateful
from pyspark_skyline_spark.streaming.stateful import stateful_cell_skyline
from pyspark_skyline_spark.streaming.windowed import windowed_stream_skyline

DIMS = [("o_totalprice", "max"), ("o_orderdate", "min")]


def test_stateful_cell_skyline_matches_batch(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # multi-file input -> multiple micro-batches
    src = str(tmp_path / "orders_stream")
    orders.repartition(3).write.parquet(src)
    bounds = _compute_bounds(orders, [(c, s) for c, s in DIMS])

    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stateful_cell_skyline(stream, DIMS, bounds, partitions=8)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("cell_frontiers")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    emitted = spark.sql("SELECT * FROM cell_frontiers").drop("__sky_cell")
    assert emitted.count() > 0
    got = skyline(emitted, DIMS)
    want = skyline(orders, DIMS)

    def fs(df):
        return {
            (r.o_totalprice, r.o_orderdate)
            for r in df.select("o_totalprice", "o_orderdate").dropDuplicates().collect()
        }

    assert fs(got) == fs(want)


SCHEMA = "event_id long, ts timestamp, value double"
EDIMS = [("value", "max"), ("event_id", "min")]
EBOUNDS = {"value": (0.0, 100.0), "event_id": (0.0, 100.0)}
CELLS = 4


def _events(ids):
    # two days, values scattered over the whole domain so every cell
    # holds a multi-row frontier
    return [
        (i, dt.datetime(2024, 1, 3 + i % 2, 1 + i % 20), float(i * 37 % 100))
        for i in ids
    ]


# one NULL row and two NaN rows: unguarded, a NaN value keys to cell 0
# and a NULL one to the last cell, where the row would stay in state for
# good (the kernel never drops an incomparable row)
INCOMPARABLE = [
    (None, dt.datetime(2024, 1, 3, 5), 99.0),
    (90, dt.datetime(2024, 1, 3, 6), float("nan")),
    (91, dt.datetime(2024, 1, 4, 7), float("nan")),
]
FILES = [
    _events(range(0, 20)) + INCOMPARABLE[:2],
    _events(range(20, 40)) + INCOMPARABLE[2:],
]


def _write_file(spark, src, name, rows, when):
    path = os.path.join(src, name)
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(path)
    for root, _, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (when, when))


def _run(spark, op, src, chk):
    """One ``availableNow`` run of ``op`` over the files under ``src``;
    returns the rows it emitted."""
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        src + "/*"
    )
    emitted = []
    q = (
        op(stream)
        .writeStream.foreachBatch(lambda df, _: emitted.extend(df.collect()))
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "query did not finish"
    return emitted


def _pairs(pdf):
    return sorted(zip(pdf["event_id"].astype("int64"), pdf["value"]))


def _stored_frontiers(spark, chk, keys):
    """{group key: frontier} as held in the state store after the last
    batch, with the frontier as sorted (event_id, value) pairs."""
    out = {}
    for r in spark.read.format("statestore").load(chk).collect():
        pdf = pickle.loads(r.value.groupState.frontier_pkl)
        assert pdf[[c for c, _ in EDIMS]].notna().all().all(), "incomparable row in state"
        out[tuple(r.key[k] for k in keys)] = _pairs(pdf)
    return out


def _wanted_frontiers(spark, rows, keys):
    """{group key: the kernel's frontier of the group's comparable rows}."""
    df = _comparable(spark.createDataFrame(rows, SCHEMA), EDIMS)
    key, _ = _mr_dim_key(_minspace_exprs(df, EDIMS, EBOUNDS), CELLS)
    df = df.withColumn(_CELL, key).withColumn(
        "window_start", F.window("ts", "1 day").getField("start")
    )
    pdf = df.toPandas()
    return {
        g: _pairs(part[find_skyline_mask([part[c] for c, _ in EDIMS], ["max", "min"])])
        for g, part in pdf.groupby(keys)
    }


OPERATORS = {
    "stateful_cell_skyline": (
        lambda s: stateful_cell_skyline(s, EDIMS, EBOUNDS, partitions=CELLS),
        [_CELL],
    ),
    # a delay past the data span: no row is late and no window expires
    "windowed_stream_skyline": (
        lambda s: windowed_stream_skyline(
            s, "ts", "1 day", EDIMS, EBOUNDS, delay="3650 days", partitions=CELLS
        ),
        ["window_start", _CELL],
    ),
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_cell_state_holds_only_comparable_frontiers(spark, tmp_path, name):
    op, keys = OPERATORS[name]
    src, chk = str(tmp_path / "src"), str(tmp_path / "chk")
    now = time.time()
    for i, rows in enumerate(FILES):
        _write_file(spark, src, f"f{i}.parquet", rows, now - 100 + i)
    emitted = _run(spark, op, src, chk)

    assert emitted
    # a NaN can come back through Arrow as NULL: both are incomparable
    assert all(
        None not in (r.event_id, r.value) and not math.isnan(r.value)
        for r in emitted
    ), "incomparable row emitted"
    stored = _stored_frontiers(spark, chk, keys)
    assert stored == _wanted_frontiers(spark, FILES[0] + FILES[1], keys)


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_cell_state_drops_incomparable_rows_of_older_state(
    spark, tmp_path, monkeypatch, name
):
    # run 1 keys every row to a real cell, as the operator did before
    # incomparable rows got cell -1, so its state holds NaN/NULL rows;
    # run 2, the current code on the same checkpoint, must drop them
    # when it reads that state back
    op, keys = OPERATORS[name]
    src, chk = str(tmp_path / "src"), str(tmp_path / "chk")
    now = time.time()
    _write_file(spark, src, "f0.parquet", FILES[0], now - 100)
    with monkeypatch.context() as m:
        m.setattr(stateful, "_has_values", lambda df, dims: F.lit(True))
        assert _run(spark, op, src, chk)
    _write_file(spark, src, "f1.parquet", FILES[1], now)
    assert _run(spark, op, src, chk)

    assert _stored_frontiers(spark, chk, keys) == _wanted_frontiers(
        spark, FILES[0] + FILES[1], keys
    )


def test_stateful_cell_skyline_resumes_from_checkpoint(spark, tmp_path):
    op, keys = OPERATORS["stateful_cell_skyline"]
    src, chk = str(tmp_path / "src"), str(tmp_path / "chk")
    now = time.time()
    _write_file(spark, src, "f0.parquet", FILES[0], now - 100)
    first = _run(spark, op, src, chk)
    _write_file(spark, src, "f1.parquet", FILES[1], now)
    second = _run(spark, op, src, chk)

    assert first and second
    # run 2 read the first run's cell frontiers back from the checkpoint
    assert _stored_frontiers(spark, chk, keys) == _wanted_frontiers(
        spark, FILES[0] + FILES[1], keys
    )
    union = spark.createDataFrame(
        [r.asDict() for r in first + second], schema=f"{SCHEMA}, {_CELL} long"
    )
    got = skyline(union.drop(_CELL), EDIMS)
    want = skyline(spark.createDataFrame(FILES[0] + FILES[1], SCHEMA), EDIMS)

    # a frontier row re-emitted by both runs is one point
    def points(df):
        return {(r.event_id, r.value) for r in df.collect()}

    assert points(got) == points(want)
