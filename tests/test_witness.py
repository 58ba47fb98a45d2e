"""skyline_witness (operators/skyline.py): frontier members get NULL,
dominated rows get the minimal frontier dominator, NULL and NaN dims
are incomparable, and the frontier side broadcasts."""

import pytest
from pyspark.sql import functions as F

from pyspark_skyline_spark import skyline_witness

ROWS = [
    # frontier: (1,9) (5,5) (9,1) under MIN/MIN
    (0, 1.0, 9.0),
    (1, 5.0, 5.0),
    (2, 9.0, 1.0),
    (3, 6.0, 6.0),   # dominated by id 1 only
    (4, 2.0, 10.0),  # dominated by id 0 only
    (5, 9.0, 9.0),   # dominated by ids 0?,1,2? -> (1,9)<=(9,9) strict in x1 -> yes by 0; min witness 0
    (6, None, 2.0),  # NULL dim: incomparable
]


@pytest.fixture(scope="module")
def pts(spark):
    return spark.createDataFrame(ROWS, "id long, x double, y double")


def test_witness_values(pts):
    out = {
        r.id: r.witness
        for r in skyline_witness(pts, [("x", "min"), ("y", "min")], "id").collect()
    }
    assert out[0] is None and out[1] is None and out[2] is None  # frontier
    assert out[3] == 1
    assert out[4] == 0
    assert out[5] == 0  # minimal dominator id among {0, 1, 2}
    assert out[6] is None  # NULL dim -> incomparable
    assert len(out) == 7


def test_witness_mixed_senses(spark):
    rows = [(0, 10.0, 1.0), (1, 10.0, 5.0), (2, 3.0, 5.0)]
    df = spark.createDataFrame(rows, "id long, price double, qty double")
    # maximize qty, minimize price: frontier = {1 (10,5)? price 10 qty 5;
    # 2 (3,5)} — 2 dominates 1 (same qty, lower price); 1 dominates 0
    out = {
        r.id: r.witness
        for r in skyline_witness(
            df, [("price", "min"), ("qty", "max")], "id"
        ).collect()
    }
    assert out[2] is None
    assert out[0] == 2 and out[1] == 2


def test_witness_every_nonfrontier_row_has_witness(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dims = [("p_retailprice", "min"), ("p_size", "min")]
    out = skyline_witness(part, dims, "p_partkey")
    assert out.count() == part.count()
    from pyspark_skyline_spark import skyline

    frontier_ids = {
        r.p_partkey for r in skyline(part, dims).select("p_partkey").collect()
    }
    rows = out.collect()
    for r in rows:
        if r.p_partkey in frontier_ids:
            assert r.witness is None
        else:
            assert r.witness in frontier_ids


def test_witness_broadcasts_frontier(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    out = skyline_witness(part, [("p_retailprice", "min"), ("p_size", "min")], "p_partkey")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_witness_nan_dims_incomparable(spark):
    # Spark orders NaN above every value, so under MIN an unguarded
    # dominance join finds (0.5, 9) dominating (nan, 9.5); a NaN dim is
    # incomparable like a NULL one, and its witness is NULL
    nan = float("nan")
    rows = [
        (0, 1.0, 5.0),
        (1, 2.0, 1.0),
        (2, 3.0, 3.0),
        (3, nan, 0.5),
        (4, 0.5, 9.0),
        (5, nan, 9.5),
        (6, 1.0, nan),
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = {
        r.id: r.witness
        for r in skyline_witness(df, [("x", "min"), ("y", "min")], "id").collect()
    }
    assert out == {0: None, 1: None, 2: 1, 3: None, 4: None, 5: None, 6: None}


def test_witness_validates(pts):
    with pytest.raises(ValueError):
        skyline_witness(pts, [("x", "min")], "nope")
    with pytest.raises(ValueError):
        skyline_witness(pts, [("missing", "min")], "id")


def test_witness_frontier_cap(pts):
    with pytest.raises(ValueError, match="max_frontier"):
        skyline_witness(pts, [("x", "min"), ("y", "min")], "id", max_frontier=2)


def test_representative_skyline_spreads(spark):
    """Clustered frontier: k=3 must pick one point per cluster rather
    than three from one cluster; seed is the best-overall point."""
    from pyspark_skyline_spark import representative_skyline, skyline

    # a staircase frontier with three tight clusters under MIN/MIN
    rows = (
        [(i, 1.0 + i * 0.01, 9.0 - i * 0.01) for i in range(3)]        # cluster A
        + [(10 + i, 5.0 + i * 0.01, 5.0 - i * 0.01) for i in range(3)]  # cluster B
        + [(20 + i, 9.0 + i * 0.01, 1.0 - i * 0.01) for i in range(3)]  # cluster C
    )
    df = spark.createDataFrame(rows, "id long, x double, y double")
    dims = [("x", "min"), ("y", "min")]
    # sanity: everything is on the frontier (staircase)
    assert skyline(df, dims).count() == 9
    rep = representative_skyline(df, dims, 3, "id")
    picked = sorted(r.id for r in rep.collect())
    assert len(picked) == 3
    clusters = {pid // 10 for pid in picked}
    assert clusters == {0, 1, 2}  # one per cluster


def test_representative_skyline_contract(spark, sf_dir):
    from pyspark.sql import functions as F

    from pyspark_skyline_spark import representative_skyline, skyline

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dims = [("p_retailprice", "min"), ("p_size", "min")]
    frontier_ids = {r.p_partkey for r in skyline(part, dims).collect()}
    k = min(3, len(frontier_ids))
    rep = representative_skyline(part, dims, k, "p_partkey")
    ids = {r.p_partkey for r in rep.collect()}
    assert len(ids) == k and ids <= frontier_ids
    assert set(rep.columns) == set(part.columns)  # full rows come back
    # k >= frontier returns the whole frontier; determinism
    all_rep = representative_skyline(part, dims, 10_000, "p_partkey")
    assert {r.p_partkey for r in all_rep.collect()} == frontier_ids
    again = {r.p_partkey for r in representative_skyline(part, dims, k, "p_partkey").collect()}
    assert again == ids

    import pytest as _pytest

    with _pytest.raises(ValueError):
        representative_skyline(part, dims, 0, "p_partkey")
    with _pytest.raises(ValueError, match="max_frontier"):
        representative_skyline(part, dims, 2, "p_partkey", max_frontier=1)
