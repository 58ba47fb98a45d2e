"""k-skyband: exact dominator counting vs brute force."""
import random

import pytest
from pyspark.sql import functions as F

from pyspark_skyline_spark.operators.skyband import k_skyband
from pyspark_skyline_spark.operators.skyline import skyline


def _brute(rows, senses, k):
    def better(q, p, s):
        return q < p if s == "min" else q > p

    def dom(q, p):
        no_worse = all(
            not better(p[i + 1], q[i + 1], s) for i, s in enumerate(senses)
        )
        strict = any(better(q[i + 1], p[i + 1], s) for i, s in enumerate(senses))
        return no_worse and strict

    out = set()
    for p in rows:
        c = sum(1 for q in rows if dom(q, p))
        if c < k:
            out.add((p[0], c))
    return out


@pytest.mark.parametrize("senses", [("min", "min"), ("min", "max"), ("max", "max")])
@pytest.mark.parametrize("k", [1, 3])
def test_k_skyband_matches_bruteforce(spark, senses, k):
    rng = random.Random(senses[0] == "min" and 7 or 8)
    rows = [(i, rng.randrange(50), rng.randrange(50)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    dims = [("x", senses[0]), ("y", senses[1])]
    got = {(r.id, r.n_dominators) for r in k_skyband(df, dims, k=k).collect()}
    assert got == _brute(rows, senses, k)


def test_k_skyband_k1_is_skyline(spark):
    rng = random.Random(11)
    rows = [(i, rng.randrange(40), rng.randrange(40), rng.randrange(40)) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, x long, y long, z long")
    dims = [("x", "min"), ("y", "min"), ("z", "min")]
    assert {r.id for r in k_skyband(df, dims, k=1).collect()} == {
        r.id for r in skyline(df, dims).collect()
    }
    # a NaN dimension is excluded as in skyline(): it must not reach the
    # bounds pass either, where hi = NaN would collapse the dimension
    rows = [(0, 1.0, 5.0), (1, 2.0, 1.0), (2, 3.0, 3.0), (3, float("nan"), 0.5), (4, 0.5, 9.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    dims = [("x", "min"), ("y", "min")]
    got = {r.id for r in k_skyband(df, dims, k=1).collect()}
    assert got == {r.id for r in skyline(df, dims).collect()} == {0, 1, 4}


def test_k_skyband_duplicates_count_rows(spark):
    # 3 copies of the dominating point: each copy dominates the loser 3x
    rows = [(1, 0, 0), (2, 0, 0), (3, 0, 0), (4, 5, 5)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = {(r.id, r.n_dominators) for r in
           k_skyband(df, [("x", "min"), ("y", "min")], k=4).collect()}
    # ties never dominate each other; the loser has exactly 3 dominators
    assert out == {(1, 0), (2, 0), (3, 0), (4, 3)}


def test_k_skyband_timestamp_dim(spark):
    rows = [
        (1, 10.0, "2024-01-01 00:00:00"),
        (2, 10.0, "2024-01-02 00:00:00"),
        (3, 20.0, "2024-01-03 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "id long, v double, t string").select(
        "id", "v", F.col("t").cast("timestamp").alias("ts")
    )
    out = {(r.id, r.n_dominators) for r in
           k_skyband(df, [("v", "min"), ("ts", "max")], k=3).collect()}
    # 2 dominates 1 (same v, later ts); 3 dominated by nobody (worse v,
    # later ts => incomparable to both)
    assert out == {(1, 1), (2, 0), (3, 0)}


def test_k_skyband_validates(spark):
    df = spark.createDataFrame([(1, 2)], "x long, y long")
    with pytest.raises(ValueError, match="positive"):
        k_skyband(df, [("x", "min"), ("y", "min")], k=0)
