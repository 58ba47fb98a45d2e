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


def test_grouped_prefix_consistency(spark, sf_dir, merge_policy):
    """With ``by``, each fold is a grouped skyline(): after every batch
    the frontier equals skyline(prefix, by=...), which keeps rows that
    another group's rows dominate. Each fold is sized by the pool, so
    these small pools take the anti-join tier and no bounds
    aggregate."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    by = ["o_orderstatus"]
    cols = [*by, "o_totalprice", "o_orderdate"]

    def grouped_set(df):
        return {tuple(r) for r in df.select(*cols).dropDuplicates().collect()}

    batches = [orders.filter(F.pmod(F.col("o_orderkey"), 3) == i) for i in range(3)]
    state = SkylineStreamState(DIMS, by=by)
    prefix = None
    for b in batches:
        with merge_policy() as ran:
            got = state.update(b)
        assert (ran["antijoin"], ran["single"], ran["bounds"], ran["local_pass"]) == (1, 0, 0, 0)
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


def _spy_fold(monkeypatch):
    """Record the pool and the pool size handed to each fold of the
    stream."""
    from pyspark_skyline_spark.operators import skyline as S

    calls, fold = [], S._skyline

    def spy(df, *a, **kw):
        calls.append((df, kw["n"]))
        return fold(df, *a, **kw)

    monkeypatch.setattr(skyline_stream, "_skyline", spy)
    return calls


@pytest.mark.parametrize("first", [63, 64, 65])
def test_update_gate_differential(spark, monkeypatch, merge_policy, first):
    """Every non-empty update folds batch ∪ frontier with ONE skyline()
    call (``_skyline``, handed the pool's comparable row count), whose
    size tiers (caps lowered to 64 anti-join and 128 single task rows)
    pick the plan from that count; an empty batch calls nothing. After
    every step the frontier must equal skyline() of the prefix,
    duplicates included, under skyline()'s NULL/NaN semantics."""
    from pyspark_skyline_spark.operators import skyline as S

    calls = _spy_fold(monkeypatch)
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
            # the pool size handed over is the pool's comparable count
            pool = S._comparable(calls[0][0], GATE_DIMS).count()
            assert calls[0][1] == pool, n
            tier = (int(pool <= 64), int(64 < pool <= 128), int(pool > 128))
            assert (ran["antijoin"], ran["single"], int(ran["local_pass"] > 0)) == tier, n
            assert ran["bounds"] == int(pool > 128), n
            tiers[tier] += 1
        want = skyline(spark.createDataFrame(prefix, GATE_SCHEMA), GATE_DIMS)
        assert _row_counter(got) == _row_counter(want), n
    assert len(tiers) >= 2  # the batches reach more than one tier


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "state_dir"])
def test_incomparable_batch_is_noop(spark, monkeypatch, tmp_path, durable):
    """A batch whose rows all have a NULL or NaN dimension folds
    nothing, publishes nothing and bumps no version, and its rows are
    never stored in the batch checkpoint."""
    calls = _spy_fold(monkeypatch)
    state = (
        SkylineStreamState(GATE_DIMS, state_dir=str(tmp_path), spark=spark)
        if durable
        else SkylineStreamState(GATE_DIMS)
    )
    bad = spark.createDataFrame(
        [(1, None, 1, 1.0), (2, float("nan"), 1, 1.0), (3, 1.0, None, 1.0), (4, 1.0, 1, None)],
        GATE_SCHEMA,
    )
    assert state.update(bad) is None and calls == []
    with pytest.raises(ValueError):
        state.result()
    good = spark.createDataFrame([(5, 1.0, 2, 1.0), (6, 2.0, 1, 2.0)], GATE_SCHEMA)
    front = state.update(good)
    assert [n for _, n in calls] == [2]
    version, files = state._version, sorted(os.listdir(tmp_path))

    frame = type(bad)
    checkpoints, real = [], frame.localCheckpoint

    def recording(self, *a, **kw):
        out = real(self, *a, **kw)
        checkpoints.append(out)
        return out

    monkeypatch.setattr(frame, "localCheckpoint", recording)
    assert state.update(bad) is front
    monkeypatch.setattr(frame, "localCheckpoint", real)
    assert len(calls) == 1 and state._version == version
    assert sorted(os.listdir(tmp_path)) == files
    assert len(checkpoints) == 1 and checkpoints[0].collect() == []
    assert _row_counter(state.result()) == Counter({(5, 1.0, 2, 1.0): 1})


def test_restart_tier_from_recovered_frontier(spark, monkeypatch, merge_policy, tmp_path):
    """A state recovered from ``state_dir`` knows its frontier's size
    without a ``count()``: the first batch after recovery picks its tier
    (caps patched to 64 anti-join, 128 single task) from the recovered
    frontier plus the batch, on both sides of the anti-join cap."""
    schema = "id long, x long, y long"
    dims = [("x", "min"), ("y", "min")]

    def rows(lo, hi):  # on one anti-diagonal: no row dominates another
        return spark.createDataFrame([(i, i, 1000 - i) for i in range(lo, hi)], schema)

    calls = _spy_fold(monkeypatch)
    state_dir = str(tmp_path)
    SkylineStreamState(dims, state_dir=state_dir, spark=spark).update(rows(0, 60))
    frame = type(spark.range(1))
    for lo, hi, pool, tier in ((60, 64, 64, (1, 0)), (64, 65, 65, (0, 1))):

        def no_count(self):
            raise AssertionError("recovery ran a count()")

        with monkeypatch.context() as m:
            m.setattr(frame, "count", no_count)
            state = SkylineStreamState(dims, state_dir=state_dir, spark=spark)
        assert state._n_front == lo
        with merge_policy(_ANTIJOIN_MAX=64, _SINGLE_TASK_ROWS=128) as ran:
            got = state.update(rows(lo, hi))
        assert calls[-1][1] == pool
        assert (ran["antijoin"], ran["single"], ran["local_pass"]) == (*tier, 0), pool
        assert got.count() == pool


@pytest.mark.parametrize("durable,budget", [(False, 4), (True, 5)], ids=["memory", "state_dir"])
def test_update_job_budget(spark, tmp_path, durable, budget):
    """One steady-state update (anti-join tier) runs a pinned number of
    Spark jobs: the batch's checkpointing count, the fold and its
    frontier checkpoint, and with ``state_dir`` the frontier write. A
    change that adds a job per batch fails here."""
    state = (
        SkylineStreamState(GATE_DIMS, state_dir=str(tmp_path), spark=spark)
        if durable
        else SkylineStreamState(GATE_DIMS)
    )
    rng = random.Random(3)
    sc = spark.sparkContext
    for i in range(3):
        batch = spark.createDataFrame(_gate_rows(rng, 40, 40 * i), GATE_SCHEMA)
        group = f"update-budget-{durable}-{i}"
        sc.setJobGroup(group, group)
        try:
            state.update(batch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == budget
