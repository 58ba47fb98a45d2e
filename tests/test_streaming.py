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


def test_grouped_prefix_consistency(spark, sf_dir):
    """With ``by``, each fold is a grouped skyline(): after every batch
    the frontier equals skyline(prefix, by=...), which keeps rows that
    another group's rows dominate."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    by = ["o_orderstatus"]
    cols = [*by, "o_totalprice", "o_orderdate"]

    def grouped_set(df):
        return {tuple(r) for r in df.select(*cols).dropDuplicates().collect()}

    batches = [orders.filter(F.pmod(F.col("o_orderkey"), 3) == i) for i in range(3)]
    state = SkylineStreamState(DIMS, by=by)
    prefix = None
    for b in batches:
        got = state.update(b)
        prefix = b if prefix is None else prefix.unionByName(b)
        want = grouped_set(skyline(prefix, DIMS, by=by))
        assert grouped_set(got) == want
    assert len(want) > len(frontier_set(skyline(prefix, DIMS)))


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
    """Every non-empty update folds batch ∪ frontier with ONE skyline()
    call, whose size tiers (caps lowered to 64 anti-join and 128 single
    task rows) pick the plan from the pool's comparable rows; an empty
    batch calls nothing. After every step the frontier must equal
    skyline() of the prefix, duplicates included, under skyline()'s
    NULL/NaN semantics."""
    from pyspark_skyline_spark.operators import skyline as S

    calls = []

    def spy(df, *a, **kw):
        calls.append(df)
        return skyline(df, *a, **kw)

    monkeypatch.setattr(skyline_stream, "skyline", spy)
    rng = random.Random(first)
    # the query-string form of the dims must reach skyline() too
    state = SkylineStreamState(GATE_QUERY)
    prefix, next_id, tiers = [], 0, Counter()
    for n in [first, 8, 0, 65, 129]:
        rows = _gate_rows(rng, n, next_id)
        next_id += n
        prefix += rows
        batch = spark.createDataFrame(rows, GATE_SCHEMA)
        calls.clear()
        with merge_policy(_ANTIJOIN_MAX=64, _SINGLE_TASK_ROWS=128) as ran:
            got = state.update(batch)
        assert len(calls) == int(n > 0), n
        if n:
            pool = S._comparable(calls[0], GATE_DIMS).count()
            tier = (int(pool <= 64), int(64 < pool <= 128), int(pool > 128))
            assert (ran["antijoin"], ran["single"], int(ran["local_pass"] > 0)) == tier, n
            tiers[tier] += 1
        want = skyline(spark.createDataFrame(prefix, GATE_SCHEMA), GATE_DIMS)
        assert _row_counter(got) == _row_counter(want), n
    assert len(tiers) >= 2  # the batches reach more than one tier
