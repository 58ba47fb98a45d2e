"""Batch skyline operator vs DuckDB oracle + cross-algorithm differential
(SURVEY.md §5 test plan)."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from pyspark_skyline_spark import skyline, skyline_sql
from pyspark_skyline_spark.operators import skyline as S

ALGOS = ["MR_DIM", "MR_GRID", "MR_ANGLE"]

# ``merge_policy`` settings: PARTITIONED keeps a small input off the
# anti-join and single-task plans, so it reaches the partitioned
# machinery (and a differential against ``skyline_antijoin`` does not
# compare the anti-join with itself); the pins
# then fix skyline()'s global merge: the tree fold (no candidate count
# is in an empty broadcast range), or the broadcast filter once the
# probe runs (every candidate count is past the minimum). A frame built
# by createDataFrame from local rows estimates as Long.MaxValue, so it
# probes and runs the combiner under its real estimate; a small input
# with d <= 4 needs ``est=0`` to probe.
PARTITIONED = {"_ANTIJOIN_MAX": -1, "_SINGLE_TASK_ROWS": -1}
PIN_TREE = {**PARTITIONED, "_BROADCAST_MIN": S._BROADCAST_CAP}
PIN_BROADCAST = {**PARTITIONED, "_BROADCAST_MIN": -1}


def duck_skyline(parquet_path, cols, senses):
    """Direct NOT EXISTS oracle (small inputs only)."""
    con = duckdb.connect()
    sel = ", ".join(cols)
    conds_le = " AND ".join(
        f"q.{c} {'<=' if s == 'min' else '>='} p.{c}" for c, s in zip(cols, senses)
    )
    conds_lt = " OR ".join(
        f"q.{c} {'<' if s == 'min' else '>'} p.{c}" for c, s in zip(cols, senses)
    )
    q = f"""
    WITH pts AS (SELECT DISTINCT {sel} FROM '{parquet_path}')
    SELECT {sel} FROM pts p WHERE NOT EXISTS (
      SELECT 1 FROM pts q WHERE {conds_le} AND ({conds_lt}))
    """
    return sorted(tuple(r) for r in con.execute(q).fetchall())


def spark_skyline_set(df, dims, **kw):
    res = skyline(df, dims, **kw)
    cols = [c for c, _ in dims]
    return sorted(tuple(r) for r in res.select(*cols).dropDuplicates().collect())


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.mark.parametrize("algo", ALGOS)
def test_lineitem_3d_min_vs_oracle(lineitem, sf_dir, algo):
    dims = [("l_extendedprice", "min"), ("l_discount", "min"), ("l_quantity", "min")]
    got = spark_skyline_set(lineitem, dims, algo=algo)
    want = duck_skyline(
        f"{sf_dir}/lineitem.parquet",
        ["l_extendedprice", "l_discount", "l_quantity"],
        ["min", "min", "min"],
    )
    assert got == want


@pytest.mark.parametrize("algo", ALGOS)
def test_mixed_senses_vs_oracle(lineitem, sf_dir, algo):
    dims = [("l_extendedprice", "min"), ("l_quantity", "max")]
    got = spark_skyline_set(lineitem, dims, algo=algo)
    want = duck_skyline(
        f"{sf_dir}/lineitem.parquet", ["l_extendedprice", "l_quantity"], ["min", "max"]
    )
    assert got == want


def test_timestamp_dim(orders, sf_dir):
    dims = [("o_totalprice", "max"), ("o_orderdate", "min")]
    got = spark_skyline_set(orders, dims)
    want = duck_skyline(f"{sf_dir}/orders.parquet", ["o_totalprice", "o_orderdate"], ["max", "min"])
    assert got == want


def test_all_sense_combos_agree_with_oracle(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    for s1 in ("min", "max"):
        for s2 in ("min", "max"):
            dims = [("p_retailprice", s1), ("p_size", s2)]
            got = spark_skyline_set(part, dims)
            want = duck_skyline(f"{sf_dir}/part.parquet", ["p_retailprice", "p_size"], [s1, s2])
            assert got == want, (s1, s2)


def test_algorithms_agree_pairwise(lineitem):
    dims = [("l_extendedprice", "min"), ("l_discount", "max"), ("l_quantity", "min")]
    results = [spark_skyline_set(lineitem, dims, algo=a) for a in ALGOS]
    assert results[0] == results[1] == results[2]


def test_partition_param_invariance(lineitem):
    dims = [("l_extendedprice", "min"), ("l_quantity", "min")]
    base = spark_skyline_set(lineitem, dims, algo="MR_DIM", partitions=2)
    for algo, p in [("MR_DIM", 57), ("MR_GRID", 3), ("MR_GRID", 9), ("MR_ANGLE", 5)]:
        assert spark_skyline_set(lineitem, dims, algo=algo, partitions=p) == base, (algo, p)


def test_grid_pruning_all_sense_combos_d3(spark, sf_dir):
    # SURVEY §7.3 risk: MR_GRID best-corner pruning under mixed MIN/MAX;
    # differential vs MR_DIM over all 8 sense combinations at d=3
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    for s1 in ("min", "max"):
        for s2 in ("min", "max"):
            for s3 in ("min", "max"):
                dims = [("p_retailprice", s1), ("p_size", s2), ("p_partkey", s3)]
                grid = spark_skyline_set(part, dims, algo="MR_GRID", partitions=3)
                dim = spark_skyline_set(part, dims, algo="MR_DIM")
                assert grid == dim, (s1, s2, s3)


def test_grouped_grid_prune_matches_mr_dim(orders):
    # grouped MR_GRID now runs the per-group cell census prune
    # (skyline.py _grid_prune_grouped); differential vs grouped MR_DIM
    dims = [("o_totalprice", "max"), ("o_orderdate", "min")]

    def run(algo):
        res = skyline(orders, dims, by=["o_orderstatus"], algo=algo, partitions=4)
        return sorted(
            tuple(r)
            for r in res.select("o_orderstatus", "o_totalprice", "o_orderdate")
            .dropDuplicates()
            .collect()
        )

    assert run("MR_GRID") == run("MR_DIM")


def test_grouped_grid_prune_census_cap(orders):
    # over-cap census -> prune skipped (returns input unchanged); result
    # must still be exact either way
    from pyspark_skyline_spark.operators import skyline as S

    dims = [("o_totalprice", "max"), ("o_orderdate", "min")]
    keyed = orders.withColumn(S._CELL, F.lit(0))
    capped = S._grid_prune_grouped(keyed, 2, 2, ["o_orderstatus"], max_census=1)
    assert capped is keyed  # skipped, not filtered


def test_map_side_combine_equivalent(lineitem, merge_policy):
    # a size limit below every estimate turns the combiner on
    dims = [("l_extendedprice", "min"), ("l_quantity", "min")]
    with merge_policy(_LARGE_INPUT_BYTES=-1, **PARTITIONED) as ran:
        with_c = spark_skyline_set(lineitem, dims)
    assert (ran["single"], ran["combiner"]) == (0, 1) and ran["local_pass"] > 0
    with merge_policy(**PARTITIONED) as ran:
        without = spark_skyline_set(lineitem, dims)
    assert (ran["single"], ran["combiner"]) == (0, 0) and ran["local_pass"] > 0
    assert with_c == without


def test_map_side_combine_grouped(orders, merge_policy):
    dims = [("o_totalprice", "max"), ("o_orderdate", "min")]
    def run(combine):
        consts = {"_LARGE_INPUT_BYTES": -1} if combine else {}
        with merge_policy(**PARTITIONED, **consts) as ran:
            res = skyline(orders, dims, by=["o_orderstatus"])
            got = sorted(
                tuple(r)
                for r in res.select("o_orderstatus", "o_totalprice", "o_orderdate")
                .dropDuplicates()
                .collect()
            )
        assert ran["combiner"] == int(combine)
        return got
    assert run(True) == run(False)


def test_full_rows_preserved(lineitem):
    dims = [("l_extendedprice", "min"), ("l_quantity", "min")]
    res = skyline(lineitem, dims)
    assert res.columns == lineitem.columns
    assert res.count() > 0


def test_skyline_sql_front_door(lineitem):
    got = skyline_sql(lineitem, "SKYLINE OF l_extendedprice MIN, l_quantity MAX")
    want = skyline(lineitem, [("l_extendedprice", "min"), ("l_quantity", "max")])
    a = sorted(tuple(r) for r in got.select("l_extendedprice", "l_quantity").dropDuplicates().collect())
    b = sorted(tuple(r) for r in want.select("l_extendedprice", "l_quantity").dropDuplicates().collect())
    assert a == b


def test_idempotence_and_permutation_invariance(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dims = [("p_retailprice", "min"), ("p_size", "max")]
    once = skyline(part, dims)
    twice = skyline(once, dims)
    shuffled = skyline(part.repartition(7), dims)
    key = lambda df: sorted(  # noqa: E731
        tuple(r) for r in df.select("p_retailprice", "p_size").dropDuplicates().collect()
    )
    assert key(once) == key(twice) == key(shuffled)


def test_soundness_and_completeness(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dims = [("p_retailprice", "min"), ("p_size", "min")]
    sky = {(r.p_retailprice, r.p_size) for r in skyline(part, dims).collect()}
    allr = [(r.p_retailprice, r.p_size) for r in part.collect()]

    def dominated(p, q):
        return q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])

    # soundness: no skyline point dominated by any input row
    for s in sky:
        assert not any(dominated(s, q) for q in allr)
    # completeness: every excluded row dominated by some skyline row
    for p in allr:
        if p not in sky:
            assert any(dominated(p, s) for s in sky)


def test_nulls_excluded(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (None, 0.5), (3, 3.0)], "a int, b double"
    )
    res = skyline(df, [("a", "min"), ("b", "min")])
    rows = sorted((r.a, r.b) for r in res.collect())
    assert rows == [(1, 1.0)]


def test_single_dimension(lineitem):
    res = skyline(lineitem, [("l_quantity", "min")])
    vals = {r.l_quantity for r in res.select("l_quantity").collect()}
    minv = lineitem.agg(F.min("l_quantity")).collect()[0][0]
    assert vals == {minv}


def test_single_cell_salting_still_exact(spark, sf_dir):
    """partitions=1 collapses every algorithm to one logical cell; the
    giant-cell salt must split it into sub-groups and the tree merge
    must still produce the exact frontier."""
    from pyspark.sql import functions as F
    from pyspark_skyline_spark import skyline

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dims = [("p_retailprice", "min"), ("p_size", "min")]
    want = {
        (r.p_partkey)
        for r in skyline(part, dims, algo="MR_DIM").select("p_partkey").collect()
    }
    for algo in ("MR_DIM", "MR_GRID", "MR_ANGLE"):
        got = {
            (r.p_partkey)
            for r in skyline(part, dims, algo=algo, partitions=1)
            .select("p_partkey")
            .collect()
        }
        assert got == want, algo


def test_skyline_layers_properties(spark):
    """layer 1 == skyline; layers partition their union; every layer-i
    point is dominated by some layer-(i-1) point (onion property)."""
    import random

    from pyspark_skyline_spark.operators.skyline import skyline, skyline_layers

    rng = random.Random(9)
    rows = [(i, rng.randrange(100), rng.randrange(100)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    dims = [("x", "min"), ("y", "min")]
    out = skyline_layers(df, dims, n_layers=3).collect()
    by_layer = {}
    for r in out:
        by_layer.setdefault(r.layer, set()).add((r.x, r.y))
    sky = {(r.x, r.y) for r in skyline(df, dims).collect()}
    assert by_layer[1] == sky
    assert not (by_layer[1] & by_layer[2]) and not (by_layer[2] & by_layer.get(3, set()))

    def dominated(p, q):
        return q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])

    for i in (2, 3):
        for p in by_layer.get(i, ()):
            assert any(dominated(p, q) for q in by_layer[i - 1])
            assert not any(dominated(p, q) for q in by_layer[i])


def brute_layers(rows, dim_idx, senses, k, group=lambda r: None):
    """Brute-force onion peel over ``rows`` (tuples): the multiset of
    ``(*row, layer)`` for the first ``k`` layers, peeled per ``group``
    key; rows with a NULL or NaN dimension are excluded."""

    def better(q, p):
        no_worse = all(
            (q[i] <= p[i]) if s == "min" else (q[i] >= p[i])
            for i, s in zip(dim_idx, senses)
        )
        return no_worse and any(q[i] != p[i] for i in dim_idx)

    def has_values(r):
        return all(r[i] is not None and r[i] == r[i] for i in dim_idx)

    groups = {}
    for r in filter(has_values, rows):
        groups.setdefault(group(r), []).append(r)
    out = []
    for rest in groups.values():
        for layer in range(1, k + 1):
            front = [p for p in rest if not any(better(q, p) for q in rest)]
            out += [(*p, layer) for p in front]
            rest = [p for p in rest if any(better(q, p) for q in rest)]
    return sorted(out, key=repr)


def test_skyline_layers_grouped_peel_stays_in_group(spark):
    """A layer-1 row of one group does not remove an equal-coordinate
    row of another group: group B keeps (1, 1) as its layer 2."""
    from pyspark_skyline_spark.operators.skyline import skyline_layers

    df = spark.createDataFrame(
        [("A", 1, 1), ("B", 0, 0), ("B", 1, 1)], "g string, x long, y long"
    )
    out = skyline_layers(df, [("x", "min"), ("y", "min")], n_layers=2, by=["g"])
    assert sorted(map(tuple, out.collect())) == [
        ("A", 1, 1, 1),
        ("B", 0, 0, 1),
        ("B", 1, 1, 2),
    ]


def rank_input(spark):
    """The rows (tuples) and frame of the ranked-plan tests: ties on a
    7-value domain, exact duplicates, NULL and NaN rows and a NULL
    group; their dimensions are ``RANK_DIMS``, at tuple index 2..4."""
    import random

    rng = random.Random(23)
    nan = float("nan")
    rows = [
        (
            i,
            rng.choice(["a", "b", None]),
            float(rng.randrange(7)),
            rng.randrange(7),
            float(rng.randrange(7)),
        )
        for i in range(300)
    ]
    rows += rows[:12]  # exact duplicates, id included
    rows += [(900, "a", nan, 1, 1.0), (901, "b", 1.0, None, 1.0), (902, None, None, 2, nan)]
    df = spark.createDataFrame(rows, "id long, g string, x double, y long, z double")
    return rows, df


RANK_DIMS = [("x", "min"), ("y", "max"), ("z", "min")]

# (merge_policy constants, est, skyline kwargs, ran counters that name
# the plan) per plan that ``skyline_layers`` can take; ``k_skyband``
# takes every one but ``by``
LAYER_PLANS = {
    "single_task": ({}, None, {}, {"single": 1, "antijoin": 0, "local_pass": 0}),
    "partitioned_salted": (PARTITIONED, 1, {"partitions": 2}, {"single": 0}),
    "MR_DIM": (PARTITIONED, 1, {"algo": "MR_DIM"}, {"single": 0}),
    "MR_GRID": (PARTITIONED, 1, {"algo": "MR_GRID"}, {"single": 0}),
    "MR_ANGLE": (PARTITIONED, 1, {"algo": "MR_ANGLE"}, {"single": 0}),
    # the size policy would probe and broadcast here: layers skip both
    "combiner": (
        {**PIN_BROADCAST, "_LARGE_INPUT_BYTES": -1},
        1,
        {},
        {"combiner": 1, "probe": 0, "broadcast": 0},
    ),
    "by": (PARTITIONED, 1, {"by": ["g"]}, {"single": 0}),
}


@pytest.mark.parametrize("n_layers", [2, 40])
@pytest.mark.parametrize("plan", list(LAYER_PLANS))
def test_skyline_layers_match_brute_force_peel(spark, merge_policy, plan, n_layers):
    """Every plan labels the same rows with the same layers as a
    brute-force peel: ties on a small coordinate domain, exact
    duplicates, NULL and NaN rows, mixed senses, a NULL group, and 40
    layers, deeper than the input. Partitioned plans fold local layer
    sets through more than one kernel pass."""
    from pyspark_skyline_spark.operators.skyline import skyline_layers

    consts, est, kwargs, expect = LAYER_PLANS[plan]
    rows, df = rank_input(spark)
    group = (lambda r: r[1]) if "by" in kwargs else (lambda r: None)
    want = brute_layers(rows, [2, 3, 4], ["min", "max", "min"], n_layers, group)
    with merge_policy(est=est, **consts) as ran:
        got = skyline_layers(df, RANK_DIMS, n_layers=n_layers, **kwargs).collect()
    assert sorted(map(tuple, got), key=repr) == want
    assert {k: ran[k] for k in expect} == expect
    if plan != "single_task":
        assert ran["local_pass"] >= 2  # at least one fold over local layers
    if n_layers == 2:
        assert max(r[-1] for r in want) == 2 and len(want) < len(rows) - 3
    else:
        assert max(r[-1] for r in want) < n_layers and len(want) == len(rows) - 3


def test_skyline_layers_job_budget(spark, merge_policy):
    """On a single-task-sized input, the Spark jobs of a layers query
    do not grow with ``n_layers``: one plan labels every layer."""
    from pyspark_skyline_spark.operators.skyline import skyline_layers

    df = spark.range(0, 2000).select(
        F.pmod(F.xxhash64("id"), F.lit(40)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(40)).alias("y"),
    )
    dims = [("x", "min"), ("y", "min")]
    sc = spark.sparkContext

    def run(k):
        group = f"layers-{k}"
        sc.setJobGroup(group, group)
        try:
            with merge_policy() as ran:
                rows = skyline_layers(df, dims, n_layers=k).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return jobs, ran["single"], max(r.layer for r in rows)

    runs = [run(k) for k in (1, 4, 8)]
    assert runs[0][0] == runs[1][0] == runs[2][0] >= 1
    assert runs == [(runs[0][0], 1, k) for k in (1, 4, 8)]


def brute_band(rows, dim_idx, senses, k):
    """Brute-force k-skyband over ``rows`` (tuples): the multiset of
    ``(*row, dominator count)`` for the rows with fewer than ``k``
    dominators; rows with a NULL or NaN dimension are excluded."""

    def better(q, p):
        no_worse = all(
            (q[i] <= p[i]) if s == "min" else (q[i] >= p[i])
            for i, s in zip(dim_idx, senses)
        )
        return no_worse and any(q[i] != p[i] for i in dim_idx)

    rows = [r for r in rows if all(r[i] is not None and r[i] == r[i] for i in dim_idx)]
    counts = [(p, sum(better(q, p) for q in rows)) for p in rows]
    return sorted(((*p, c) for p, c in counts if c < k), key=repr)


@pytest.mark.parametrize("k", [1, 3, 400])
@pytest.mark.parametrize("plan", [p for p in LAYER_PLANS if p != "by"])
def test_k_skyband_match_brute_force_counts(spark, merge_policy, monkeypatch, plan, k):
    """Every plan keeps the same rows with the same dominator counts as
    brute force, on the layers tests' input: k = 1 (the skyline), 3,
    and 400, above every count (all 312 comparable rows). A named
    algorithm is reached through ``_pick_algo``, since ``k_skyband``
    takes no ``algo``; partitioned plans fold local bands through more
    than one kernel pass."""
    from pyspark_skyline_spark.operators.skyband import k_skyband

    consts, est, kwargs, expect = LAYER_PLANS[plan]
    rows, df = rank_input(spark)
    want = brute_band(rows, [2, 3, 4], ["min", "max", "min"], k)
    if "algo" in kwargs:
        monkeypatch.setattr(S, "_pick_algo", lambda algo, d: kwargs["algo"])
    with merge_policy(est=est, **consts) as ran:
        got = k_skyband(df, RANK_DIMS, k=k, partitions=kwargs.get("partitions")).collect()
    assert sorted(map(tuple, got), key=repr) == want
    assert {c: ran[c] for c in expect} == expect
    if plan != "single_task":
        assert ran["local_pass"] >= 2  # at least one fold over local bands
    if k == 1:
        sky = skyline(df, RANK_DIMS, partitions=kwargs.get("partitions"))
        assert sorted(map(tuple, sky.collect()), key=repr) == [r[:-1] for r in want]
    elif k == 3:
        assert len(want) < len(rows) - 3 and max(r[-1] for r in want) == 2
    else:
        assert len(want) == len(rows) - 3


def test_k_skyband_job_budget(spark, merge_policy):
    """On a single-task-sized input, ``k_skyband`` runs the same Spark
    jobs for every ``k``: the count that picks the tier and the one
    kernel task."""
    from pyspark_skyline_spark.operators.skyband import k_skyband

    df = spark.range(0, 2000).select(
        F.pmod(F.xxhash64("id"), F.lit(40)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(40)).alias("y"),
    )
    dims = [("x", "min"), ("y", "min")]
    sc = spark.sparkContext

    def run(k):
        group = f"band-{k}"
        sc.setJobGroup(group, group)
        try:
            with merge_policy() as ran:
                rows = k_skyband(df, dims, k=k).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return jobs, ran["single"], max(r.n_dominators for r in rows)

    runs = [run(k) for k in (1, 4, 8)]
    assert runs == [(runs[0][0], 1, k - 1) for k in (1, 4, 8)]
    assert runs[0][0] >= 1


def test_grouped_grid_prune_keeps_null_group_keys(spark):
    # groupBy keeps a NULL group; the grouped grid prune's semi-join must
    # be null-safe or every row of the NULL-keyed group silently vanishes
    rows = [
        ("a", 1.0, 1.0), ("a", 2.0, 2.0), ("a", 9.0, 9.0),
        (None, 1.0, 2.0), (None, 3.0, 1.0), (None, 8.0, 8.0),
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    dims = [("x", "min"), ("y", "min")]
    got = sorted(
        (
            tuple(r)
            for r in skyline(df, dims, by=["g"], algo="MR_GRID", partitions=4)
            .select("g", "x", "y")
            .dropDuplicates()
            .collect()
        ),
        key=repr,
    )
    want = sorted(
        (
            tuple(r)
            for r in skyline(df, dims, by=["g"], algo="MR_DIM", partitions=4)
            .select("g", "x", "y")
            .dropDuplicates()
            .collect()
        ),
        key=repr,
    )
    assert got == want
    assert {r for r in got if r[0] is None} == {(None, 1.0, 2.0), (None, 3.0, 1.0)}


def test_broadcast_merge_matches_tree_on_anticorrelated(spark, merge_policy):
    # adversarial shape for the final merge: anticorrelated dims put a
    # large fraction of rows on the frontier, where the tree merge's
    # final fold funnels everything through one kernel group and the
    # broadcast filter runs the same O(F^2 d) verification in parallel
    import numpy as np

    rng = np.random.default_rng(5)
    n, d = 3000, 5
    energy = rng.normal(0.5, 0.05, size=n).clip(0, 1)
    props = rng.dirichlet(np.ones(d), size=n)
    arr = ((props * (energy[:, None] * d)).clip(0, 1) * 1e9).astype("int64")
    cols = [f"x{i+1}" for i in range(d)]
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame(arr, columns=cols))
    dims = [(c, "min") for c in cols]
    with merge_policy(**PIN_TREE) as tree_ran:
        tree = {tuple(r) for r in skyline(df, dims).collect()}
    with merge_policy(**PIN_BROADCAST) as bcast_ran:
        bcast = {tuple(r) for r in skyline(df, dims).collect()}
    # the policy with a tiny broadcast minimum must take the broadcast
    # path and agree
    with merge_policy(_BROADCAST_MIN=8, **PARTITIONED) as auto_ran:
        auto = {tuple(r) for r in skyline(df, dims).collect()}
    runs = (tree_ran, bcast_ran, auto_ran)
    assert [ran["single"] for ran in runs] == [0, 0, 0]
    assert [ran["probe"] for ran in runs] == [1, 1, 1]
    assert [ran["broadcast"] for ran in runs] == [0, 1, 1]
    # a frame from pandas estimates small: d = 5 probes, no combiner
    assert [ran["combiner"] for ran in runs] == [0, 0, 0]
    assert tree == bcast == auto
    assert len(tree) > 100  # genuinely wide frontier, not a trivial case


def test_broadcast_merge_cap_falls_back_to_tree(spark, merge_policy):
    # past _BROADCAST_CAP the candidates are never collected; the tree
    # fallback must still produce the same frontier. A size limit below
    # every estimate makes this 2-d input probe whatever Catalyst
    # estimates for it: 101 candidates, past the cap of 5.
    rows = [(float(i), float(100 - i)) for i in range(100)] + [(50.0, 50.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    dims = [("x", "min"), ("y", "min")]
    with merge_policy(
        _LARGE_INPUT_BYTES=-1, _BROADCAST_MIN=2, _BROADCAST_CAP=5, **PARTITIONED
    ) as ran:
        capped = {tuple(r) for r in skyline(df, dims).collect()}
    assert (ran["single"], ran["probe"], ran["broadcast"]) == (0, 1, 0)
    assert ran["local_pass"] > 1
    with merge_policy(**PIN_TREE) as ran:
        tree = {tuple(r) for r in skyline(df, dims).collect()}
    assert (ran["single"], ran["broadcast"]) == (0, 0) and ran["local_pass"] > 1
    assert capped == tree


@pytest.mark.parametrize(
    "d, est, consts, grouped, want",
    [
        # small input with d <= 4: no probe, straight to the tree fold
        pytest.param(2, None, {}, False, (0, 0, 0), id="small_low_d"),
        # d > 4 probes at any size; n_cand below the default minimum
        pytest.param(5, None, {}, False, (1, 0, 0), id="high_d_below_min"),
        pytest.param(5, None, {"_BROADCAST_MIN": 0}, False, (1, 0, 1), id="high_d_inside"),
        pytest.param(
            5, None, {"_BROADCAST_MIN": 0, "_BROADCAST_CAP": 1}, False, (1, 0, 0),
            id="high_d_above_cap",
        ),
        # a failed estimate (0) keeps the probe: unknown is not small
        pytest.param(2, 0, {}, False, (1, 0, 0), id="est_failed"),
        # past the size limit: the combiner, and the probe at any d
        pytest.param(2, S._LARGE_INPUT_BYTES + 1, {}, False, (1, 1, 0), id="est_large"),
        # grouped skylines never probe, even with the broadcast range open
        pytest.param(5, None, {"_BROADCAST_MIN": 0}, True, (0, 0, 0), id="grouped"),
    ],
)
def test_merge_policy_paths(spark, tmp_path, merge_policy, d, est, consts, grouped, want):
    """skyline()'s merge policy: (probe, combiner, broadcast) as
    recorded per input shape, the tree fold iff no broadcast, one size
    estimate per call, and the exact frontier on every path. The input
    is read back from parquet, so Catalyst's own estimate is small
    (a frame built from local rows estimates as Long.MaxValue)."""
    import numpy as np
    import pandas as pd

    from pyspark_skyline_spark.operators.skyline import skyline_antijoin

    rng = np.random.default_rng(13)
    n = 400
    energy = rng.normal(0.5, 0.05, size=n).clip(0, 1)
    props = rng.dirichlet(np.ones(5), size=n)
    arr = ((props * (energy[:, None] * 5)).clip(0, 1) * 1000).astype("int64")
    pdf = pd.DataFrame(arr[:, :d], columns=[f"x{i}" for i in range(d)])
    pdf["g"] = np.arange(n) % 2
    spark.createDataFrame(pdf).write.parquet(str(tmp_path / "pts"))
    df = spark.read.parquet(str(tmp_path / "pts"))
    dims = [(f"x{i}", "min") for i in range(d)]
    with merge_policy(est=est, **PARTITIONED, **consts) as ran:
        got = sorted(map(tuple, skyline(df, dims, by=["g"] if grouped else None).collect()))
    assert (ran["single"], ran["est"]) == (0, 1)
    assert (ran["probe"], ran["combiner"], ran["broadcast"]) == want
    assert (ran["local_pass"] > 1) == (not want[2])
    if grouped:
        expect = [
            r
            for g in (0, 1)
            for r in skyline_antijoin(df.filter(F.col("g") == g), dims).collect()
        ]
    else:
        expect = skyline_antijoin(df, dims).collect()
    assert got == sorted(map(tuple, expect))


def test_broadcast_merge_handles_timestamp_dims(spark, sf_dir, merge_policy):
    # datetime64 dims go through to_min_space on both sides of the
    # broadcast filter (driver collect + executor batches)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    dims = [("value", "min"), ("ts", "min")]
    with merge_policy(**PIN_TREE) as tree_ran:
        tree = {
            (r.value, r.ts) for r in skyline(df, dims).select("value", "ts").collect()
        }
    # a failed estimate makes this small 2-d input probe, with no combiner
    with merge_policy(est=0, **PIN_BROADCAST) as bcast_ran:
        bcast = {
            (r.value, r.ts) for r in skyline(df, dims).select("value", "ts").collect()
        }
    assert (tree_ran["single"], bcast_ran["single"]) == (0, 0)
    assert (tree_ran["broadcast"], bcast_ran["broadcast"]) == (0, 1)
    assert bcast_ran["combiner"] == 0
    assert tree == bcast


def test_broadcast_merge_property_vs_antijoin(spark, merge_policy):
    # property differential: the broadcast-merged kernel path must agree
    # with the declarative NOT EXISTS anti-join on random mixed-sense
    # frames (duplicates likely at this value range)
    from hypothesis import given, settings, strategies as st

    from pyspark_skyline_spark.operators.skyline import skyline_antijoin

    @settings(max_examples=12, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 8), st.integers(0, 8), st.integers(0, 8)
            ),
            min_size=1,
            max_size=40,
        ),
        senses=st.tuples(
            st.sampled_from(["min", "max"]),
            st.sampled_from(["min", "max"]),
            st.sampled_from(["min", "max"]),
        ),
    )
    def check(rows, senses):
        df = spark.createDataFrame(rows, "a long, b long, c long")
        dims = list(zip(["a", "b", "c"], senses))
        got = sorted(map(tuple, skyline(df, dims).collect()))
        want = sorted(map(tuple, skyline_antijoin(df, dims).collect()))
        assert got == want

    with merge_policy(**PIN_BROADCAST) as ran:
        check()
    # every example ran the combiner, then the probe and the broadcast
    # filter
    assert ran["single"] == 0
    assert ran["combiner"] == ran["probe"] == ran["broadcast"] == ran["est"] > 0


def test_warm_up_runs_full_pipeline_and_is_deterministic(spark, merge_policy):
    """warm_up must execute the REAL skyline path (a frontier comes
    back, deterministic for a given d/rows — it's xxhash64-mixed
    synthetic data) and reject nonsense d. Its table is far below
    ``_SINGLE_TASK_ROWS``, yet it must warm the partitioned plan that
    large queries run. Timing effects are graded by the sweep protocol,
    not here."""
    from pyspark_skyline_spark.operators.skyline import warm_up

    with merge_policy() as ran:
        a = warm_up(spark, 3, rows=2000, passes=1)
    assert ran["single"] == 0 and ran["local_pass"] > 0
    b = warm_up(spark, 3, rows=2000, passes=1)
    assert a == b > 0
    with pytest.raises(ValueError, match="d must be"):
        warm_up(spark, 0)


def test_skyline_excludes_nan_dims(spark, merge_policy):
    # NaN rows are incomparable under IEEE comparisons (the kernel would
    # keep all of them) and engines disagree on NaN ordering — so NaN
    # dims are excluded exactly like NULLs, by every skyline operator.
    # skyline() runs these few rows as its anti-join tier, and once more
    # pinned to the kernel (the single task).
    from pyspark_skyline_spark.operators.skyline import skyline_antijoin, skyline_layers

    nan = float("nan")
    cases = [
        ([(1.0, 2.0), (nan, 0.5), (2.0, 1.0), (0.5, nan)], {(1.0, 2.0), (2.0, 1.0)}),
        # Spark orders NaN above every value: an unguarded anti-join
        # keeps (nan, 0.5) and lets it drop (0.5, 9)
        (
            [(1.0, 5.0), (2.0, 1.0), (3.0, 3.0), (nan, 0.5), (0.5, 9.0)],
            {(0.5, 9.0), (1.0, 5.0), (2.0, 1.0)},
        ),
    ]
    dims = [("x", "min"), ("y", "min")]
    for rows, want in cases:
        df = spark.createDataFrame(rows, "x double, y double")
        for consts, path in (({}, "antijoin"), ({"_ANTIJOIN_MAX": -1}, "single")):
            with merge_policy(**consts) as ran:
                assert {(r.x, r.y) for r in skyline(df, dims).collect()} == want
            assert ran[path] == 1, path
        assert {(r.x, r.y) for r in skyline_antijoin(df, dims).collect()} == want
        layers = skyline_layers(df, dims, n_layers=3).collect()
        assert {(r.x, r.y) for r in layers if r.layer == 1} == want
        assert not any(math.isnan(r.x) or math.isnan(r.y) for r in layers)


def test_local_pass_fold_matches_one_shot_group_kernel(spark, merge_policy):
    """The partitioned plan's kernel passes, grouped and salted
    ungrouped, with every group SPANNING many Arrow batches (tiny
    maxRecordsPerBatch): each group's batches reach one kernel call
    together, so the result, exact coordinate ties included (all of
    them survive), is the per-group NOT-EXISTS anti-join's."""
    from pyspark.sql import functions as F

    from pyspark_skyline_spark.operators.skyline import skyline, skyline_antijoin

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.range(0, 400).select(
            (F.col("id") % 3).alias("g"),
            F.pmod(F.xxhash64("id"), F.lit(50)).alias("x"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(50)).alias("y"),
        )
        dims = [("x", "min"), ("y", "min")]
        got = skyline(df, dims, by=["g"], partitions=2).collect()
        want = []
        for g in range(3):
            sub = df.filter(F.col("g") == g)
            want += skyline_antijoin(sub, dims).collect()
        key = lambda r: (r.g, r.x, r.y)  # noqa: E731
        assert sorted(map(key, got)) == sorted(map(key, want))
        # ungrouped too (salted cells: many sub-groups per partition)
        with merge_policy(**PARTITIONED) as ran:
            got_u = skyline(df, dims).collect()
        assert ran["single"] == 0 and ran["local_pass"] > 0
        want_u = skyline_antijoin(df, dims).collect()
        assert sorted((r.x, r.y) for r in got_u) == sorted(
            (r.x, r.y) for r in want_u
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_single_task_gate_differential(spark, merge_policy):
    """skyline()'s size tiers, with its caps lowered to 64 (anti-join)
    and 128 (single task): when skyline() plans on its own, an input of
    n = 63, 64, 65, 127, 128 or 129 comparable rows (NULL and NaN rows
    do not count) runs exactly one of the anti-join, the single task and
    the partitioned plan, and returns the same multiset as the
    partitioned plan, over exact duplicates, mixed senses and
    date/timestamp dimensions. Only the partitioned plan pays the
    bounds aggregate. A grouped query takes the same tiers, counted over
    all of its groups, and returns what a per-group anti-join returns;
    a ranked grouped query skips the anti-join. An explicit algo,
    ``partitions`` or ``bounds`` stays partitioned, and the row count
    costs the jobs of a plain ``count()`` and nothing more."""
    import datetime as dt
    import random

    from pyspark_skyline_spark.operators.skyline import skyline_antijoin, skyline_layers

    caps = {"_ANTIJOIN_MAX": 64, "_SINGLE_TASK_ROWS": 128}
    schema = "id long, g int, x double, y long, day date, ts timestamp"
    dims = [("x", "min"), ("y", "max"), ("day", "min"), ("ts", "max")]
    t0, d0 = dt.datetime(2024, 1, 1), dt.date(2024, 1, 1)
    rng = random.Random(17)

    def frame(n):
        rows = [
            (
                i,
                0,
                float(rng.randrange(6)),
                rng.randrange(6),
                d0 + dt.timedelta(days=rng.randrange(6)),
                t0 + dt.timedelta(minutes=rng.randrange(6)),
            )
            for i in range(n - 4)
        ]
        rows += rows[:4]  # exact duplicates, id included
        rows += [  # not comparable: excluded, and not counted
            (900, 0, None, 1, d0, t0),
            (901, 0, float("nan"), 1, d0, t0),
            (902, 0, 0.0, None, d0, t0),
            (903, 0, 0.0, 1, None, t0),
            (904, 0, 0.0, 1, d0, None),
        ]
        return spark.createDataFrame(rows, schema)

    def grouped_frame(n):
        """``frame(n - 1)`` split into groups 1 and NULL, plus group 2
        of a single row: n comparable rows in three groups."""
        g = F.when(F.col("id") % 3 == 0, F.lit(None)).otherwise(F.lit(1)).cast("int")
        one = spark.createDataFrame([(950, 2, 9.0, 0, d0, t0)], schema)
        return frame(n - 1).withColumn("g", g).unionByName(one)

    def per_group(df):
        return sorted(
            (
                tuple(r)
                for v in (1, 2, None)
                for r in skyline_antijoin(df.filter(F.col("g").eqNullSafe(v)), dims).collect()
            ),
            key=repr,
        )

    def bag(df):
        return sorted(map(tuple, df.collect()), key=repr)

    def paths(ran):
        return (ran["antijoin"], ran["single"], int(ran["local_pass"] > 0))

    for n in (63, 64, 65, 127, 128, 129):
        df = frame(n)
        with merge_policy(**caps) as ran:
            auto = bag(skyline(df, dims))
        assert ran["bounds"] == int(n > 128), n
        assert paths(ran) == (int(n <= 64), int(64 < n <= 128), int(n > 128)), n
        with merge_policy(**PARTITIONED) as ran:
            part = bag(skyline(df, dims))
        assert paths(ran) == (0, 0, 1), n
        assert ran["bounds"] == 1, n
        assert auto == part == bag(skyline_antijoin(df, dims)), n
        assert len(auto) >= 4 and not any(r[0] >= 900 for r in auto)

    for n in (63, 64, 65, 127, 128, 129):
        df = grouped_frame(n)
        with merge_policy(**caps) as ran:
            auto = bag(skyline(df, dims, by=["g"]))
        assert ran["bounds"] == int(n > 128), n
        assert paths(ran) == (int(n <= 64), int(64 < n <= 128), int(n > 128)), n
        with merge_policy(**PARTITIONED) as ran:
            part = bag(skyline(df, dims, by=["g"]))
        assert paths(ran) == (0, 0, 1), n
        assert ran["bounds"] == 1, n
        assert auto == part == per_group(df), n
        assert {r[1] for r in auto} == {1, 2, None}, n
        assert (950, 2, 9.0, 0, d0, t0) in auto and not any(900 <= r[0] < 950 for r in auto)

    # a ranked grouped query takes the single task below both caps
    df = grouped_frame(63)
    with merge_policy(**caps) as ran:
        single = bag(skyline_layers(df, dims, n_layers=3, by=["g"]))
    assert paths(ran) == (0, 1, 0) and ran["bounds"] == 0
    with merge_policy(**PARTITIONED) as ran:
        part = bag(skyline_layers(df, dims, n_layers=3, by=["g"]))
    assert paths(ran) == (0, 0, 1)
    assert single == part and {r[-1] for r in single} == {1, 2, 3}

    # under the caps, only a query skyline() plans on its own takes them
    df = frame(63)
    want = bag(skyline_antijoin(df, dims))
    bounds = S._compute_bounds(S._comparable(df, dims), dims)
    for kw in (
        {"algo": "MR_ANGLE"},
        {"algo": "MR_DIM"},
        {"partitions": 4},
        {"bounds": bounds},
    ):
        with merge_policy(**caps) as ran:
            got = bag(skyline(df, dims, **kw))
        assert paths(ran) == (0, 0, 1), kw
        assert ran["bounds"] == int("bounds" not in kw), kw
        assert got == want, kw

    # empty input, and an input whose rows are all incomparable
    for empty in (spark.createDataFrame([], schema), frame(4).filter("id >= 900")):
        for by in (None, ["g"]):
            with merge_policy(**caps) as ran:
                assert skyline(empty, dims, by=by).count() == 0
            assert paths(ran) == (1, 0, 0)
            assert ran["bounds"] == 0

    # building a small-tier query runs the jobs of a plain count() and
    # nothing more
    sc = spark.sparkContext

    def jobs(fn, group):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for n, path, by in (
        (63, "antijoin", None),
        (100, "single", None),
        (63, "antijoin", ["g"]),
        (100, "single", ["g"]),
    ):
        df = frame(n) if by is None else grouped_frame(n)
        comparable = S._comparable(df, dims)
        plain = jobs(lambda: comparable.count(), f"count-{n}-{by}")
        with merge_policy(**caps) as ran:
            built = jobs(lambda: skyline(df, dims, by=by), f"build-{n}-{by}")
        assert ran[path] == 1 and ran["bounds"] == 0, (path, by)
        assert built == plain >= 1, (path, by)



def _canon(v):
    """A value as collected, in a form that compares exactly: NaN as a
    marker (NaN != NaN), Rows and lists as tuples, binary as bytes."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (tuple, list)):
        return tuple(map(_canon, v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def fidelity_input(spark):
    """Rows (tuples) and frame of the carried-column fidelity test, on
    the dimensions ``x`` min, ``y`` min at tuple index 2, 3: row (i, 24 - i)
    is on the frontier, row (i, 25 - i) is not. Every group ``g`` holds
    ids of 2^60 and above next to NULL ids (a pandas int column with a
    NULL is float64, which rounds them) and NaN values of ``v``
    (pandas writes NaN back as NULL), with DATE, timestamp, decimal,
    string, binary, struct and array columns."""
    import datetime as dt
    from decimal import Decimal

    n = 24
    rows = []
    for i in range(n):
        for extra in (0, 1):
            rows.append(
                (
                    None if i % 3 == 0 else (1 << 60) + 4 * i + 2 * extra + 1,
                    i % 2,
                    float(i),
                    n - i + extra,
                    float("nan") if i % 4 in (1, 2) else i / 8,
                    dt.date(2024, 1, 1) + dt.timedelta(days=i),
                    dt.datetime(2024, 1, 1, 12, 0, 0, 123457) + dt.timedelta(seconds=i),
                    (Decimal(i) / 7).quantize(Decimal(10) ** -18),
                    f"s{i}" if i % 5 else None,
                    bytes([i, extra]),
                    (i, f"t{extra}"),
                    [i, None, extra],
                )
            )
    schema = (
        "id long, g int, x double, y long, v double, day date, ts timestamp, "
        "dec decimal(38,18), s string, b binary, st struct<a: int, b: string>, "
        "arr array<int>"
    )
    return rows, spark.createDataFrame(rows, schema)


FIDELITY_DIMS = [("x", "min"), ("y", "min")]

# (merge_policy constants, est, skyline kwargs, ran counters that name
# the plan) for every plan of the fidelity test
FIDELITY_PLANS = {
    "antijoin": ({}, None, {}, {"antijoin": 1, "single": 0}),
    "single_task": ({"_ANTIJOIN_MAX": -1}, None, {}, {"single": 1}),
    "single_task_by": ({"_ANTIJOIN_MAX": -1}, None, {"by": ["g"]}, {"single": 1}),
    "partitioned_salted": (PARTITIONED, 1, {"partitions": 2}, {"single": 0, "combiner": 0}),
    "combiner": (PARTITIONED, 5 * 1024**3, {}, {"combiner": 1, "broadcast": 0}),
    "combiner_by": (PARTITIONED, 5 * 1024**3, {"by": ["g"]}, {"combiner": 1}),
    # a failed estimate probes this 2-d input, with no combiner
    "broadcast": (PIN_BROADCAST, 0, {}, {"broadcast": 1, "combiner": 0}),
    "MR_DIM": ({}, 1, {"algo": "MR_DIM"}, {"single": 0, "antijoin": 0}),
    "MR_GRID": ({}, 1, {"algo": "MR_GRID"}, {"single": 0, "antijoin": 0}),
    "MR_ANGLE": ({}, 1, {"algo": "MR_ANGLE"}, {"single": 0, "antijoin": 0}),
}


@pytest.mark.parametrize("plan", list(FIDELITY_PLANS))
def test_carried_columns_come_back_unchanged(spark, merge_policy, plan):
    """Output rows are the input rows unchanged on every plan: the
    anti-join's rows, compared value for value, with NaN as NaN."""
    from pyspark_skyline_spark.operators.skyline import skyline_antijoin

    rows, df = fidelity_input(spark)
    frontier = sorted((_canon(r) for r in rows if r[3] == 24 - r[2]), key=repr)
    anchor = sorted(map(_canon, skyline_antijoin(df, FIDELITY_DIMS).collect()), key=repr)
    assert anchor == frontier
    consts, est, kwargs, expect = FIDELITY_PLANS[plan]
    with merge_policy(est=est, **consts) as ran:
        got = skyline(df, FIDELITY_DIMS, **kwargs).collect()
    assert {k: ran[k] for k in expect} == expect
    assert sorted(map(_canon, got), key=repr) == anchor


@pytest.mark.parametrize(
    "consts, kwargs",
    [({}, {}), (PARTITIONED, {"partitions": 2})],
    ids=["single_task", "partitioned_salted"],
)
def test_ranked_plans_carry_columns_unchanged(spark, merge_policy, consts, kwargs):
    """``skyline_layers`` and ``k_skyband`` return the fidelity input's
    rows unchanged, with the rank a brute force gives them."""
    from pyspark_skyline_spark.operators.skyband import k_skyband
    from pyspark_skyline_spark.operators.skyline import skyline_layers

    rows, df = fidelity_input(spark)
    senses = ["min", "min"]

    def canon(rs):
        return sorted(map(_canon, rs), key=repr)

    with merge_policy(est=1, **consts) as ran:
        layers = skyline_layers(df, FIDELITY_DIMS, n_layers=2, **kwargs).collect()
        band = k_skyband(df, FIDELITY_DIMS, k=2, **kwargs).collect()
    assert ran["single"] == (0 if consts else 2)
    assert canon(layers) == canon(brute_layers(rows, [2, 3], senses, 2, lambda r: None))
    assert canon(band) == canon(brute_band(rows, [2, 3], senses, 2))


def test_combiner_keeps_null_and_nan_keys_apart(spark, merge_policy):
    """The map-side combiner splits a batch by ``by`` key as ``groupBy``
    does for a NULL and a NaN key of a float column: two groups, so the
    NaN group's (1, 1) does not drop the NULL group's (2, 2)."""
    nan = float("nan")
    rows = [
        (1.0, 0.0, 5.0),
        (1.0, 5.0, 0.0),
        (nan, 1.0, 1.0),
        (nan, 3.0, 3.0),
        (None, 2.0, 2.0),
        (None, 4.0, 4.0),
    ]
    # one partition: every row meets the combiner in one Arrow batch
    df = spark.createDataFrame(rows, "g double, x double, y double").coalesce(1)
    dims = [("x", "min"), ("y", "min")]
    with merge_policy(est=5 * 1024**3, **PARTITIONED) as ran:
        got = skyline(df, dims, by=["g"]).collect()
    assert ran["combiner"] == 1
    want = [(1.0, 0.0, 5.0), (1.0, 5.0, 0.0), (nan, 1.0, 1.0), (None, 2.0, 2.0)]
    assert sorted(map(_canon, got), key=repr) == sorted(map(_canon, want), key=repr)


def test_combiner_skipped_on_struct_key(spark, merge_policy):
    """Arrow's hash grouper rejects a struct key, so a grouped skyline
    on one runs no combiner, and returns the per-group anti-join."""
    from pyspark_skyline_spark.operators.skyline import skyline_antijoin

    rows = [
        (1, 0.0, 5.0),
        (1, 5.0, 0.0),
        (1, 6.0, 6.0),
        (2, 1.0, 1.0),
        (None, 2.0, 2.0),
        (None, 0.5, 9.0),
        (None, 3.0, 3.0),
    ]
    df = spark.createDataFrame(rows, "g long, x double, y double").withColumn(
        "k", F.struct("g")
    )
    dims = [("x", "min"), ("y", "min")]
    with merge_policy(est=5 * 1024**3, **PARTITIONED) as ran:
        got = skyline(df, dims, by=["k"]).collect()
    assert ran["combiner"] == 0 and ran["local_pass"] > 0
    want = [
        r
        for g in (1, 2, None)
        for r in skyline_antijoin(df.filter(F.col("g").eqNullSafe(F.lit(g))), dims).collect()
    ]
    assert len(want) == 5
    assert sorted(map(_canon, got), key=repr) == sorted(map(_canon, want), key=repr)
