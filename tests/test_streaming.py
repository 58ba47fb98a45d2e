"""Streaming skyline: prefix-consistency + batch/stream agreement
(SURVEY.md §5 test plan item 5)."""

import glob
import os
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from pyspark_skyline_spark import skyline
from pyspark_skyline_spark.streaming import skyline_stream
from pyspark_skyline_spark.streaming.skyline_stream import (
    SkylineStreamState,
    stream_table_skyline,
)

DIMS = [("o_totalprice", "max"), ("o_orderdate", "min")]


def frontier_set(df):
    return {
        (r.o_totalprice, r.o_orderdate)
        for r in df.select("o_totalprice", "o_orderdate").dropDuplicates().collect()
    }


def test_prefix_consistency(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # carve into 3 deterministic batches
    batches = [orders.filter(F.pmod(F.col("o_orderkey"), 3) == i) for i in range(3)]
    state = SkylineStreamState(DIMS)
    prefix = None
    for b in batches:
        got = state.update(b)
        prefix = b if prefix is None else prefix.unionByName(b)
        want = skyline(prefix, DIMS)
        assert frontier_set(got) == frontier_set(want)


def test_stream_equals_batch(spark, sf_dir):
    got = stream_table_skyline(spark, f"{sf_dir}/orders.parquet", DIMS)
    want = skyline(spark.read.parquet(f"{sf_dir}/orders.parquet"), DIMS)
    assert frontier_set(got) == frontier_set(want)


def test_empty_batch_ignored(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    state = SkylineStreamState(DIMS)
    state.update(orders)
    before = frontier_set(state.result())
    state.update(orders.filter(F.lit(False)))
    assert frontier_set(state.result()) == before


def test_result_before_update_raises():
    state = SkylineStreamState(DIMS)
    with pytest.raises(ValueError):
        state.result()


def test_grouped_state_rejected():
    # the anti-join reduce has no notion of groups
    with pytest.raises(ValueError, match="by="):
        SkylineStreamState(DIMS, by=["o_custkey"])


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "state_dir"])
def test_frontier_partitions_bounded(spark, sf_dir, tmp_path, durable):
    """Small updates must not add partitions to the frontier: its
    partition count, and the part files of each published version,
    stay at or below defaultParallelism however many batches ran."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    par = spark.sparkContext.defaultParallelism
    state = (
        SkylineStreamState(DIMS, state_dir=str(tmp_path), spark=spark)
        if durable
        else SkylineStreamState(DIMS)
    )
    n_batches = 12
    for i in range(n_batches):
        batch = orders.filter(F.pmod(F.col("o_orderkey"), n_batches) == i).repartition(2)
        got = state.update(batch)
        assert got.rdd.getNumPartitions() <= par, i
        if durable:
            parts = glob.glob(os.path.join(str(tmp_path), f"frontier_v{state._version}", "part-*"))
            assert 1 <= len(parts) <= par, (i, len(parts))
    assert frontier_set(state.result()) == frontier_set(skyline(orders, DIMS))


GATE_DIMS = [("a", "min"), ("b", "max"), ("c", "min")]
GATE_QUERY = "SKYLINE OF a MIN, b MAX, c MIN"
GATE_SCHEMA = "id long, a double, b long, c double"


def _gate_rows(rng, n, first_id):
    """n rows on a small grid (ties everywhere), with NULL and NaN dims
    and exact duplicate rows."""
    rows = []
    for i in range(n):
        if rows and rng.random() < 0.12:
            rows.append(rng.choice(rows))
            continue
        a = rng.choice([float(rng.randint(0, 5))] * 8 + [float("nan"), None])
        b = rng.choice([rng.randint(0, 5)] * 9 + [None])
        c = rng.choice([float(rng.randint(0, 5))] * 9 + [None])
        rows.append((first_id + i, a, b, c))
    return rows


def _row_counter(df):
    return Counter(tuple(r) for r in df.select("id", "a", "b", "c").collect())


@pytest.mark.parametrize("first", [63, 64, 65])
def test_update_gate_differential(spark, monkeypatch, merge_policy, first):
    """Around the probe's gate (lowered to 64 rows), raw batches of
    cap-1, cap and cap+1 rows reach either the anti-join reduce or the
    partitioned operator; after every step the frontier must equal
    skyline() of the prefix, duplicates included, under skyline()'s
    NULL/NaN semantics. The stream's skyline() calls are pinned to the
    partitioned plan (these batches are far below the single-task cap),
    while the reference skyline() of the prefix runs as one task."""
    cap = 64
    monkeypatch.setattr(skyline_stream, "_ANTIJOIN_MAX", cap)
    kernel_inputs = []

    def spy(df, *a, **kw):
        kernel_inputs.append(df)
        return skyline(df, *a, **kw)

    monkeypatch.setattr(skyline_stream, "skyline", spy)
    rng = random.Random(first)
    # the query-string form of the dims must reach the anti-join too
    state = SkylineStreamState(GATE_QUERY)
    prefix, next_id = [], 0
    for n in [first, 8, cap + 1, cap - 1, cap]:
        rows = _gate_rows(rng, n, next_id)
        next_id += n
        prefix += rows
        batch = spark.createDataFrame(rows, GATE_SCHEMA)
        kernel_inputs.clear()
        with merge_policy(_SINGLE_TASK_ROWS=-1) as ran:
            got = state.update(batch)
        # the raw batch goes to the partitioned operator iff it is past the cap
        assert any(df is batch for df in kernel_inputs) == (n > cap), n
        if n > cap:
            assert ran["local_pass"] > 0, n
        want = skyline(spark.createDataFrame(prefix, GATE_SCHEMA), GATE_DIMS)
        assert _row_counter(got) == _row_counter(want), n
