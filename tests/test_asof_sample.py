"""Unit tests: as-of join semantics and deterministic hash sampling."""

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from pyspark_skyline_spark.operators.asof import asof_join
from pyspark_skyline_spark.operators.sample import (
    hash_sample,
    stratified_hash_sample,
)


def _ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture()
def quotes(spark):
    return spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 100.0, 1),
            (1, _ts("2024-01-01T10:00:05"), 101.0, 2),
            (1, _ts("2024-01-01T10:00:05"), 102.0, 3),  # tie on ts
            (2, _ts("2024-01-01T10:00:02"), 200.0, 4),
        ],
        "sym long, ts timestamp, px double, qid long",
    )


@pytest.fixture()
def trades(spark):
    return spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:03"), 10),  # after quote qid=1
            (1, _ts("2024-01-01T10:00:05"), 11),  # exactly at the tie
            (2, _ts("2024-01-01T10:00:01"), 12),  # before any quote for sym 2
            (3, _ts("2024-01-01T10:00:09"), 13),  # sym with no quotes at all
        ],
        "sym long, ts timestamp, tid long",
    )


def test_asof_backward_inclusive_and_ties(spark, quotes, trades):
    got = {
        r.tid: (r.q_qid, r.q_px)
        for r in asof_join(
            trades, quotes, "ts", "ts", by=["sym"], tiebreak="qid",
            how="inner", right_prefix="q_",
        ).collect()
    }
    # trade 10: only quote qid=1 is <= its ts
    # trade 11: ties at 10:00:05 resolve to max qid (3)
    # trade 12: no quote at-or-before -> dropped (inner)
    assert got == {10: (1, 100.0), 11: (3, 102.0)}


def test_asof_left_keeps_unmatched(spark, quotes, trades):
    got = {
        r.tid: r.q_qid
        for r in asof_join(
            trades, quotes, "ts", "ts", by=["sym"], tiebreak="qid",
            how="left", right_prefix="q_",
        ).collect()
    }
    assert got == {10: 1, 11: 3, 12: None, 13: None}


def test_asof_forward_direction(spark, quotes, trades):
    got = {
        r.tid: r.q_qid
        for r in asof_join(
            trades, quotes, "ts", "ts", by=["sym"], direction="forward",
            tiebreak="qid", how="left", right_prefix="q_",
        ).collect()
    }
    # trade 10 (10:00:03): next quote at-or-after is the 10:00:05 pair;
    # forward ties resolve to MIN qid (2)
    # trade 12 (sym 2, 10:00:01): next quote is qid=4 at 10:00:02
    assert got == {10: 2, 11: 2, 12: 4, 13: None}


def test_asof_tolerance_drops_stale_matches(spark, quotes, trades):
    got = {
        r.tid: r.q_qid
        for r in asof_join(
            trades, quotes, "ts", "ts", by=["sym"], tiebreak="qid",
            how="left", right_prefix="q_", tolerance_micros=1_000_000,
        ).collect()
    }
    # trade 10 is 3s after quote 1 -> beyond 1s tolerance -> null
    assert got == {10: None, 11: 3, 12: None, 13: None}


def test_asof_collision_raises(spark, quotes, trades):
    with pytest.raises(ValueError, match="collide"):
        asof_join(trades, quotes, "ts", "ts", by=["sym"])


def test_hash_sample_partitioning_invariant(spark):
    df = spark.range(0, 5000).withColumn("k", F.col("id"))
    s1 = {r.id for r in hash_sample(df, ["k"], 0.2).collect()}
    s2 = {r.id for r in hash_sample(df.repartition(17), ["k"], 0.2).collect()}
    assert s1 == s2
    # roughly the requested fraction (binomial, generous bounds)
    assert 700 <= len(s1) <= 1300


def test_hash_sample_nested_subsets(spark):
    """Smaller fractions are strict subsets of larger ones (same seed):
    the property that makes incremental downsampling consistent."""
    df = spark.range(0, 2000).withColumn("k", F.col("id"))
    small = {r.id for r in hash_sample(df, ["k"], 0.1).collect()}
    big = {r.id for r in hash_sample(df, ["k"], 0.3).collect()}
    assert small <= big


def test_stratified_fractions_respected(spark):
    rows = [(i, "a" if i % 2 else "b") for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, grp string")
    got = stratified_hash_sample(
        df, "grp", {"a": 1.0, "b": 0.0}, ["id"]
    ).collect()
    assert all(r.grp == "a" for r in got)
    assert len(got) == 2000
    # absent stratum uses default_fraction
    got2 = stratified_hash_sample(df, "grp", {"a": 1.0}, ["id"], default_fraction=1.0)
    assert got2.count() == 4000


def test_dedup_corpus_exact_and_near(spark):
    from pyspark_skyline_spark.operators.dedup import dedup_corpus

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "THE  quick   brown fox jumps over the lazy dog"),  # exact dup of 1 (normalized)
            (3, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (4, "completely different content about spark engines"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in dedup_corpus(docs, "doc_id", "text", threshold=0.4).collect()
    )
    assert kept == [1, 4]


def test_hash_sample_filter_is_scan_level(spark, sf_dir):
    """The sampling predicate must stay a plain Filter over the scan —
    one pass, no shuffle, no Python stage."""
    from pyspark_skyline_spark.plans import formatted_plan

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = formatted_plan(hash_sample(orders, ["o_orderkey"], 0.1))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_asof_join_single_shuffle(spark, quotes, trades):
    """The union-scan as-of join must cost exactly one hash exchange on
    the by-keys (for the window sort) — never a range-join product or a
    per-side join shuffle pair."""
    from pyspark_skyline_spark.plans import formatted_plan

    import re

    plan = formatted_plan(
        asof_join(trades, quotes, "ts", "ts", by=["sym"], tiebreak="qid",
                  right_prefix="q_")
    )
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan


def test_asof_differential_vs_pandas_merge_asof(spark):
    """Randomized differential against pandas.merge_asof (unique right
    timestamps per key, so both tie rules coincide): backward, forward,
    and backward+tolerance must agree on every match."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(1234)
    n_keys = 7
    left = pd.DataFrame({
        "k": rng.integers(0, n_keys, 400),
        "t": rng.integers(0, 10_000, 400).astype("int64"),
        "lid": np.arange(400, dtype="int64"),
    })
    # unique right times per key: sample without replacement per key
    rights = []
    for k in range(n_keys):
        times = rng.choice(10_000, size=60, replace=False).astype("int64")
        rights.append(pd.DataFrame({"k": k, "t": times, "rid": times + k * 1_000_000}))
    right = pd.concat(rights, ignore_index=True)

    sl = spark.createDataFrame(left)
    sr = spark.createDataFrame(right)

    for direction, tol in (("backward", None), ("forward", None), ("backward", 500)):
        got = asof_join(
            sl, sr, "t", "t", by=["k"], direction=direction, how="left",
            right_prefix="r_", tiebreak="rid",
            tolerance_micros=tol,
        ).toPandas()
        exp = pd.merge_asof(
            left.sort_values("t", kind="stable"),
            right.sort_values("t", kind="stable"),
            on="t", by="k", direction=direction,
            tolerance=tol, suffixes=("", "_r"),
        )
        got_map = dict(zip(got["lid"], got["r_rid"].astype("float64")))
        exp_map = dict(zip(exp["lid"], exp["rid"].astype("float64")))
        assert len(got_map) == len(left)
        for lid in exp_map:
            g, e = got_map[lid], exp_map[lid]
            assert (pd.isna(g) and pd.isna(e)) or g == e, (direction, tol, lid, g, e)


def test_skyline_antijoin_matches_kernel_path(spark, sf_dir, merge_policy):
    import pyspark_skyline_spark as se

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    dims = [("p_retailprice", "min"), ("p_size", "max")]
    a = {tuple(r) for r in se.skyline_antijoin(part, dims).select("p_partkey").collect()}
    # a small table would take skyline()'s own anti-join tier: pin the kernel
    with merge_policy(_ANTIJOIN_MAX=-1) as ran:
        b = {tuple(r) for r in se.skyline(part, dims).select("p_partkey").collect()}
    assert ran["antijoin"] == 0
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# range join
# ---------------------------------------------------------------------------

def _rj_fixture(spark):
    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0, 1, 5, 9, 10, 15, 23, 42])],
        "pid long, x double",
    )
    ivs = spark.createDataFrame(
        [(100, 0.0, 10.0), (101, 5.0, 6.0), (102, 9.0, 30.0), (103, 40.0, 41.0)],
        "iid long, lo double, hi double",
    )
    return pts, ivs


def test_range_join_matches_bruteforce_all_closed_modes(spark):
    from pyspark_skyline_spark.operators.rangejoin import range_join

    pts, ivs = _rj_fixture(spark)
    prows = [(r.pid, r.x) for r in pts.collect()]
    irows = [(r.iid, r.lo, r.hi) for r in ivs.collect()]
    ops = {
        "left": lambda x, lo, hi: lo <= x < hi,
        "right": lambda x, lo, hi: lo < x <= hi,
        "both": lambda x, lo, hi: lo <= x <= hi,
        "neither": lambda x, lo, hi: lo < x < hi,
    }
    for closed, pred in ops.items():
        for bw in (1, 3, 100):  # tiny, mid, giant bins: all exact
            got = {
                (r.pid, r.iid)
                for r in range_join(
                    pts, ivs, "x", "lo", "hi", bin_width=bw, closed=closed
                ).collect()
            }
            want = {
                (pid, iid)
                for pid, x in prows
                for iid, lo, hi in irows
                if pred(x, lo, hi)
            }
            assert got == want, (closed, bw)


def test_range_join_with_equality_keys(spark):
    from pyspark_skyline_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 5.0)], "pid long, k string, x double"
    )
    ivs = spark.createDataFrame(
        [(10, "a", 0.0, 10.0), (11, "b", 6.0, 10.0)],
        "iid long, k string, lo double, hi double",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(
            pts, ivs, "x", "lo", "hi", bin_width=5, on=["k"]
        ).collect()
    }
    assert got == {(1, 10)}  # (2,10) blocked by key, (2,11) by range


def test_range_join_validates(spark):
    from pyspark_skyline_spark.operators.rangejoin import range_join

    pts, ivs = _rj_fixture(spark)
    import pytest as _pt
    with _pt.raises(ValueError, match="closed"):
        range_join(pts, ivs, "x", "lo", "hi", 1, closed="open")
    with _pt.raises(ValueError, match="positive"):
        range_join(pts, ivs, "x", "lo", "hi", 0)
    with _pt.raises(ValueError, match="disjoint"):
        range_join(pts, pts.withColumnRenamed("pid", "iid"), "x", "x", "x", 1)


def test_range_join_timestamp_keys(spark):
    from pyspark.sql import functions as F
    from pyspark_skyline_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame(
        [(1, "2024-01-01 00:05:00"), (2, "2024-01-01 02:00:00")],
        "pid long, t string",
    ).select("pid", F.col("t").cast("timestamp").alias("t"))
    ivs = spark.createDataFrame(
        [(10, "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "iid long, s string, e string",
    ).select(
        "iid",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(pts, ivs, "t", "s", "e", bin_width=60_000_000).collect()
    }
    assert got == {(1, 10)}


# ---------------------------------------------------------------------------
# pack_batches / chunk_documents
# ---------------------------------------------------------------------------

def test_pack_batches_deterministic_and_dense(spark):
    from pyspark_skyline_spark.operators.sample import pack_batches

    df = spark.createDataFrame([(i,) for i in range(500)], "k long")
    out = pack_batches(df, ["k"], 8, seed=3).collect()
    assert len(out) == 500
    by_batch: dict[int, list[int]] = {}
    for r in out:
        by_batch.setdefault(r.batch_id, []).append(r.batch_pos)
    assert set(by_batch) <= set(range(8))
    # positions are dense 0..len-1 within every batch
    for poss in by_batch.values():
        assert sorted(poss) == list(range(len(poss)))
    # partitioning-invariant: same assignment after a repartition
    again = {
        (r.k, r.batch_id, r.batch_pos)
        for r in pack_batches(df.repartition(13), ["k"], 8, seed=3).collect()
    }
    assert again == {(r.k, r.batch_id, r.batch_pos) for r in out}
    # different seed -> different shuffle
    other = {
        (r.k, r.batch_id) for r in pack_batches(df, ["k"], 8, seed=4).collect()
    }
    assert other != {(r.k, r.batch_id) for r in out}


def test_chunk_documents_windows(spark):
    from pyspark_skyline_spark.operators.text import chunk_documents

    words = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, words), (2, "solo")], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=1).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    d1 = [r for r in rows if r.doc_id == 1]
    # stride 3: starts at 0,3,6,9 -> windows of <=4 tokens
    assert [r.chunk_text for r in d1] == [
        "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9",
    ]
    assert [r.n_tokens for r in d1] == [4, 4, 4, 1]
    # every token covered
    assert set(words.split()) == {t for r in d1 for t in r.chunk_text.split()}
    d2 = [r for r in rows if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].chunk_text == "solo"
    import pytest as _pt
    with _pt.raises(ValueError, match="overlap"):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_sessionize_gap_semantics(spark):
    from pyspark.sql import functions as F
    from pyspark_skyline_spark.operators.sample import sessionize

    rows = [
        (1, 1, "2024-01-01 10:00:00"),
        (2, 1, "2024-01-01 10:10:00"),   # within 30m -> session 0
        (3, 1, "2024-01-01 11:00:00"),   # 50m gap -> session 1
        (4, 1, "2024-01-01 11:29:59"),   # within -> session 1
        (5, 1, "2024-01-01 12:00:00"),   # 30m01s gap -> session 2
        (6, 2, "2024-01-01 10:05:00"),   # other user -> own session 0
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, t string").select(
        "event_id", "user_id", F.col("t").cast("timestamp").alias("ts")
    )
    got = {
        (r.event_id, r.session_id)
        for r in sessionize(df, "user_id", "ts", gap="30 minutes").collect()
    }
    assert got == {(1, 0), (2, 0), (3, 1), (4, 1), (5, 2), (6, 0)}
    # exactly-at-gap boundary stays in the same session (> gap starts new)
    df2 = spark.createDataFrame(
        [(1, 1, "2024-01-01 10:00:00"), (2, 1, "2024-01-01 10:30:00")],
        "event_id long, user_id long, t string",
    ).select("event_id", "user_id", F.col("t").cast("timestamp").alias("ts"))
    got2 = {
        (r.event_id, r.session_id)
        for r in sessionize(df2, "user_id", "ts", gap="30 minutes").collect()
    }
    assert got2 == {(1, 0), (2, 0)}


def test_range_join_rejects_string_range_columns(spark):
    from pyspark_skyline_spark.operators.rangejoin import range_join

    # loud-failure policy (streaming/watermark._with_event_time): a
    # string range column would bin as NULL and compare lexically
    pts = spark.createDataFrame([("5",)], "p string")
    iv = spark.createDataFrame([("0", "10")], "s string, e string")
    with pytest.raises(TypeError, match="range column"):
        range_join(pts, iv, "p", "s", "e", bin_width=10)


def test_sessionize_rejects_non_timestamp(spark):
    from pyspark_skyline_spark.operators.sample import sessionize

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 01:00:00")],
        "user_id long, ts string",
    )
    with pytest.raises(TypeError, match="sessionize ts_col"):
        sessionize(df, "user_id", "ts")
    df2 = spark.createDataFrame([(1, 1700000000)], "user_id long, ts long")
    with pytest.raises(TypeError, match="sessionize ts_col"):
        sessionize(df2, "user_id", "ts")


def test_split_dataset_partitions_all_rows(spark):
    from pyspark_skyline_spark.operators import sample as SA

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    out = SA.split_dataset(df, ["k"], {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000
    assert set(counts) == {"train", "val", "test"}
    # rough proportions (hash is uniform; 2000 rows => generous bands)
    assert 1400 < counts["train"] < 1800
    assert 100 < counts["val"] < 320
    assert 100 < counts["test"] < 320


def test_split_dataset_consistent_across_tables(spark):
    # a table keyed on the same columns splits the same way: derived
    # rows (chunks of a doc) follow their parent -- the anti-leak property
    from pyspark_skyline_spark.operators import sample as SA

    base = spark.range(0, 500).withColumnRenamed("id", "k")
    derived = base.withColumn("payload", F.col("k") * 2)
    a = {(r["k"], r["split"]) for r in SA.split_dataset(base, ["k"]).collect()}
    b = {(r["k"], r["split"]) for r in SA.split_dataset(derived, ["k"]).select("k", "split").collect()}
    assert a == b


def test_split_dataset_validates_fractions(spark):
    from pyspark_skyline_spark.operators import sample as SA

    df = spark.range(5).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="sum to 1"):
        SA.split_dataset(df, ["k"], {"train": 0.5, "test": 0.1})
    with pytest.raises(ValueError, match="non-empty"):
        SA.split_thresholds({})


def test_weighted_sample_semantics(spark):
    from pyspark.sql import functions as F

    from pyspark_skyline_spark.operators.sample import weighted_sample

    df = spark.range(0, 5000).select(F.col("id").alias("k"))
    # weight 1 keeps everything, 0 drops everything
    assert weighted_sample(df, ["k"], F.lit(1.0)).count() == 5000
    assert weighted_sample(df, ["k"], F.lit(0.0)).count() == 0
    # clamping: out-of-range weights behave like 1 / 0
    assert weighted_sample(df, ["k"], F.lit(7.5)).count() == 5000
    assert weighted_sample(df, ["k"], F.lit(-3.0)).count() == 0
    # keep rate tracks the weight (Bernoulli, 5000 trials)
    n_half = weighted_sample(df, ["k"], F.lit(0.5)).count()
    assert 2300 < n_half < 2700, n_half
    # monotone in weight: the 0.2 sample is a strict subset of the 0.6 one
    s_lo = {r.k for r in weighted_sample(df, ["k"], F.lit(0.2)).collect()}
    s_hi = {r.k for r in weighted_sample(df, ["k"], F.lit(0.6)).collect()}
    assert s_lo <= s_hi
    # partitioning invariance: same rows regardless of layout
    s_repart = {
        r.k for r in weighted_sample(df.repartition(17), ["k"], F.lit(0.2)).collect()
    }
    assert s_repart == s_lo
    # per-row weights: rows with weight 0 never appear
    w = F.when(F.col("k") % 2 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
    evens = weighted_sample(df, ["k"], w)
    assert evens.count() == 2500
    assert evens.where(F.col("k") % 2 == 1).count() == 0


def test_pack_by_length_reduces_padding_waste(spark):
    import random

    from pyspark.sql import functions as F

    from pyspark_skyline_spark.operators.sample import pack_batches, pack_by_length

    rng = random.Random(3)
    # bimodal lengths: chat snippets vs long documents
    rows = [(i, rng.randint(10, 20) if i % 2 else rng.randint(400, 500))
            for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")

    def padding_waste(batched):
        stats = batched.groupBy("batch_id").agg(
            F.max("n_tokens").alias("mx"),
            F.sum("n_tokens").alias("sm"),
            F.count(F.lit(1)).alias("n"),
        )
        row = stats.agg(
            F.sum(F.col("mx") * F.col("n")).alias("padded"),
            F.sum("sm").alias("real"),
        ).first()
        return 1.0 - row.real / row.padded

    naive = pack_batches(df, ["doc_id"], n_batches=500)
    bucketed = pack_by_length(df, ["doc_id"], "n_tokens", batch_size=8,
                              bucket_width=32, n_shards=4)
    w_naive = padding_waste(naive)
    w_bucketed = padding_waste(bucketed)
    # mixing 15-token and 450-token rows wastes ~half the pad budget;
    # bucketing must collapse that by a wide margin
    assert w_naive > 0.3, w_naive
    assert w_bucketed < w_naive / 3, (w_naive, w_bucketed)


def test_pack_by_length_contract(spark):
    from pyspark.sql import functions as F

    from pyspark_skyline_spark.operators.sample import pack_by_length

    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), (F.pmod(F.xxhash64("id"), F.lit(300)) + 1).alias("n_tokens")
    )
    out = pack_by_length(df, ["doc_id"], "n_tokens", batch_size=8, bucket_width=32)
    # every batch holds <= batch_size rows, positions are 0..n-1, and
    # all rows of a batch share the length bucket
    chk = out.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("len_bucket").alias("nb"),
        F.max("batch_pos").alias("mp"),
        F.min("batch_pos").alias("mn"),
    )
    bad = chk.where(
        (F.col("n") > 8) | (F.col("nb") != 1)
        | (F.col("mp") != F.col("n") - 1) | (F.col("mn") != 0)
    ).count()
    assert bad == 0
    assert out.count() == 2000
    # determinism under repartitioning
    a = {(r.doc_id, r.batch_id, r.batch_pos) for r in out.collect()}
    b = {
        (r.doc_id, r.batch_id, r.batch_pos)
        for r in pack_by_length(
            df.repartition(13), ["doc_id"], "n_tokens", batch_size=8, bucket_width=32
        ).collect()
    }
    assert a == b

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pack_by_length(df, ["doc_id"], "n_tokens", batch_size=0)
    with _pytest.raises(ValueError):
        pack_by_length(df, ["doc_id"], "nope", batch_size=8)


def test_pack_by_length_guards_id_space(spark):
    from pyspark.sql import functions as F

    from pyspark_skyline_spark.operators.sample import pack_by_length

    df = spark.range(0, 10).select(
        F.col("id").alias("doc_id"), (F.col("id") * 10_000_000).alias("n_tokens")
    )
    import pytest as _pytest

    # max len 9e7 / width 1 x 64 shards blows the 23-bit prefix -> the
    # in-plan assert fails loudly at action time (the builder stays
    # lazy — no extra driver job on the happy path)
    with _pytest.raises(Exception, match="prefix space"):
        pack_by_length(df, ["doc_id"], "n_tokens", batch_size=8, bucket_width=1).collect()


def test_asof_nearest_matches_pandas(spark):
    """Differential vs pandas.merge_asof(direction='nearest') on random
    keyed data, including the backward-wins-on-exact-tie rule."""
    import random

    import pandas as pd

    from pyspark_skyline_spark.operators.asof import asof_join_nearest

    rng = random.Random(5)
    lrows = [(i, rng.choice(["a", "b"]), rng.randint(0, 1000)) for i in range(60)]
    rrows = [(100 + i, rng.choice(["a", "b"]), rng.randint(0, 1000), i * 1.5)
             for i in range(40)]
    # make right times unique per key so the pandas comparison is
    # tie-free on the right side (our tiebreak rule differs from
    # pandas' positional one)
    seen = set()
    rrows = [r for r in rrows if not ((r[1], r[2]) in seen or seen.add((r[1], r[2])))]

    ldf = spark.createDataFrame(lrows, "lid long, k string, ts long")
    rdf = spark.createDataFrame(rrows, "rid long, k string, ts long, v double")
    got = {
        r.lid: r.r_rid
        for r in asof_join_nearest(
            ldf, rdf, "ts", "ts", "lid", by=["k"], how="left"
        ).collect()
    }

    lpd = pd.DataFrame(lrows, columns=["lid", "k", "ts"]).sort_values("ts")
    rpd = pd.DataFrame(rrows, columns=["rid", "k", "ts", "v"]).sort_values("ts")
    want_df = pd.merge_asof(lpd, rpd, on="ts", by="k", direction="nearest")
    want = {
        int(row.lid): (None if pd.isna(row.rid) else int(row.rid))
        for row in want_df.itertuples()
    }
    assert got == want
    # inner mode drops only unmatched rows
    inner = asof_join_nearest(ldf, rdf, "ts", "ts", "lid", by=["k"], how="inner")
    assert inner.count() == sum(1 for v in want.values() if v is not None)


def test_asof_nearest_tolerance_and_validation(spark):
    from pyspark_skyline_spark.operators.asof import asof_join_nearest

    ldf = spark.createDataFrame([(1, 100), (2, 500)], "lid long, ts long")
    rdf = spark.createDataFrame([(9, 120, 1.0)], "rid long, ts long, v double")
    out = {
        r.lid: r.r_rid
        for r in asof_join_nearest(
            ldf, rdf, "ts", "ts", "lid", tolerance_micros=50, how="left"
        ).collect()
    }
    assert out == {1: 9, 2: None}  # 380 > tolerance

    import pytest as _pytest

    with _pytest.raises(ValueError):
        asof_join_nearest(ldf, rdf, "ts", "ts", "nope")


def test_asof_null_event_times_never_match(spark):
    """A row without an event time has no temporal position: NULL-ts
    right rows must never be carried as matches (they used to
    contaminate every later row's payload), and NULL-ts left rows
    match nothing (kept unmatched in left mode, dropped in inner)."""
    from pyspark_skyline_spark.operators.asof import asof_join, asof_join_nearest

    ldf = spark.createDataFrame([(1, 50), (2, None)], "lid long, ts long")
    rdf = spark.createDataFrame(
        [(99, None, 9.9), (7, 40, 1.0)], "rid long, ts long, v double"
    )
    got = {
        r.lid: r.r_rid
        for r in asof_join(ldf, rdf, "ts", "ts", how="left", right_prefix="r_").collect()
    }
    assert got == {1: 7, 2: None}  # NULL right row invisible; NULL left unmatched
    inner = asof_join(ldf, rdf, "ts", "ts", how="inner", right_prefix="r_")
    assert {r.lid for r in inner.collect()} == {1}
    near = {
        r.lid: r.r_rid
        for r in asof_join_nearest(ldf, rdf, "ts", "ts", "lid", how="left").collect()
    }
    assert near == {1: 7, 2: None}


def test_asof_nearest_per_group_unique_ids(spark):
    """left_id unique only within each by-group must not collapse rows
    (the final window partitions by (left_id, by))."""
    from pyspark_skyline_spark.operators.asof import asof_join_nearest

    ldf = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20)], "lid long, k string, ts long"
    )
    rdf = spark.createDataFrame(
        [(100, "a", 11, 1.0), (200, "b", 19, 2.0)], "rid long, k string, ts long, v double"
    )
    got = {
        (r.lid, r.k): r.r_rid
        for r in asof_join_nearest(
            ldf, rdf, "ts", "ts", "lid", by=["k"], how="left"
        ).collect()
    }
    assert got == {(1, "a"): 100, (1, "b"): 200}
