"""Zero-row robustness: at 100 TB empty partitions and empty filter
results are routine — every operator must return an empty (or
well-defined) result instead of raising."""

import pytest
from pyspark.sql import functions as F

from pyspark_skyline_spark import skyline
from pyspark_skyline_spark.operators import dedup as D
from pyspark_skyline_spark.operators import filtering as FL
from pyspark_skyline_spark.operators import sample as SA
from pyspark_skyline_spark.operators import text as T
from pyspark_skyline_spark.operators.asof import asof_join
from pyspark_skyline_spark.operators.profile import column_profile
from pyspark_skyline_spark.operators.skyband import k_skyband
from pyspark_skyline_spark.operators.skyline import skyline_layers
from pyspark_skyline_spark.operators.topk import top_k_per_group


@pytest.fixture()
def empty_pts(spark):
    return spark.createDataFrame([], "x double, y double")


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_skyline_family_empty(spark, empty_pts, merge_policy):
    dims = [("x", "min"), ("y", "min")]
    for algo in ("MR_DIM", "MR_GRID", "MR_ANGLE"):
        assert skyline(empty_pts, dims, algo=algo).count() == 0
    # the combiner and the broadcast filter on zero candidates: a frame
    # from local rows estimates as Long.MaxValue, and a count of 0 is
    # past a minimum of -1
    with merge_policy(_BROADCAST_MIN=-1, _ANTIJOIN_MAX=-1, _SINGLE_TASK_ROWS=-1) as ran:
        assert skyline(empty_pts, dims).count() == 0
    assert (ran["antijoin"], ran["single"]) == (0, 0)
    assert ran["combiner"] == ran["probe"] == ran["broadcast"] == 1
    # and the anti-join, the smallest tier, on zero rows
    with merge_policy() as ran:
        assert skyline(empty_pts, dims).count() == 0
    assert (ran["antijoin"], ran["single"], ran["local_pass"]) == (1, 0, 0)
    assert skyline_layers(empty_pts, dims, n_layers=2).count() == 0
    assert k_skyband(empty_pts, dims, k=2).count() == 0
    assert skyline(empty_pts, dims, by=["x"]).count() == 0


def test_text_family_empty(spark, empty_docs):
    assert T.text_stats(empty_docs).count() == 0  # no groups, no rows
    assert T.lang_id(empty_docs).count() == 0
    assert T.vocab_topk(empty_docs).count() == 0
    assert T.ngram_counts(empty_docs).count() == 0
    assert T.tfidf_topk_terms(empty_docs).count() == 0
    assert T.chunk_documents(empty_docs, "doc_id").count() == 0
    assert T.winnow_fingerprints(empty_docs).count() == 0
    assert T.hash_embed(empty_docs, dim=4).count() == 0
    with pytest.raises(ValueError, match="empty"):
        T.bm25_scores(empty_docs, ["term"])


def test_dedup_filtering_empty(spark, empty_docs):
    assert D.dedup_exact(empty_docs, ["text"]).count() == 0
    assert D.minhash_lsh_pairs(empty_docs, "doc_id", "text").count() == 0
    assert D.simhash(empty_docs, "doc_id", "text").count() == 0
    assert D.ngram_jaccard_pairs(empty_docs, "doc_id", "text").count() == 0
    assert D.dedup_corpus(empty_docs, "doc_id", "text").count() == 0
    assert FL.repetition_stats(empty_docs).count() == 0
    assert FL.pii_scrub(empty_docs).count() == 0
    probe = spark.createDataFrame([(1, "some probe text here")], "doc_id long, text string")
    assert FL.decontaminate(empty_docs, probe, "doc_id").count() == 0
    # empty PROBE side: nothing is contaminated, corpus passes through
    assert FL.decontaminate(probe, empty_docs, "doc_id").count() == 1


def test_sampling_profile_empty(spark, empty_pts):
    empty_keyed = spark.createDataFrame([], "k long, v double")
    assert SA.hash_sample(empty_keyed, ["k"], 0.5).count() == 0
    assert SA.split_dataset(empty_keyed, ["k"]).count() == 0
    assert SA.pack_batches(empty_keyed, ["k"], n_batches=4).count() == 0
    prof = column_profile(empty_keyed)
    assert prof.count() == 2  # one row per column, zero counts
    assert all(r.n_rows == 0 for r in prof.collect())


def test_joins_topk_empty(spark):
    empty_ev = spark.createDataFrame([], "event_id long, user_id long, ts timestamp, v double")
    assert asof_join(
        empty_ev, empty_ev, "ts", "ts", by=["user_id"], right_prefix="r_"
    ).count() == 0
    assert top_k_per_group(empty_ev, ["user_id"], [F.col("v").desc(), "event_id"], k=3).count() == 0
    right = spark.createDataFrame(
        [(1, 7, None, 1.0)], "event_id long, user_id long, ts timestamp, v double"
    ).filter("ts is not null")
    assert asof_join(
        empty_ev, right, "ts", "ts", by=["user_id"], right_prefix="r_"
    ).count() == 0


def test_new_relational_ops_empty(spark):
    from pyspark_skyline_spark.operators.jsonx import json_extract
    from pyspark_skyline_spark.operators.resample import resample
    from pyspark_skyline_spark.operators.skewjoin import salted_join
    from pyspark_skyline_spark.operators.upsert import merge_upsert

    empty_kv = spark.createDataFrame([], "k long, v double")
    dim = spark.createDataFrame([(1, "a")], "k long, name string")

    assert salted_join(empty_kv, dim, ["k"]).count() == 0
    assert salted_join(dim, spark.createDataFrame([], "k long, name string"),
                       ["k"], how="left_outer").count() == 1

    assert merge_upsert(empty_kv, empty_kv, ["k"]).count() == 0
    one = spark.createDataFrame([(1, 2.0)], "k long, v double")
    assert merge_upsert(one, empty_kv, ["k"]).count() == 1  # no-op batch
    assert merge_upsert(empty_kv, one, ["k"]).count() == 1  # pure insert

    empty_js = spark.createDataFrame([], "id long, props string")
    assert json_extract(empty_js, "props", [("k", "$.k", "bigint")]).count() == 0

    empty_ts = spark.createDataFrame([], "ts timestamp, v double")
    assert resample(empty_ts, "ts", "1 hour").count() == 0
    assert resample(empty_ts, "ts", "1 hour", fill="prev").count() == 0


def test_new_layout_ops_empty(spark, tmp_path):
    from pyspark_skyline_spark.sources.layout import write_zordered, zorder_key

    empty = spark.createDataFrame([], "x double, y double")
    # bounds aggregate sees no rows -> all-NULL bounds path
    assert empty.select(zorder_key(empty, ["x", "y"], bits=8).alias("z")).count() == 0
    out = str(tmp_path / "z_empty")
    write_zordered(empty, out, ["x", "y"], bits=8, n_files=2)
    assert spark.read.parquet(out).count() == 0


def test_shuffle_mix_paragraph_semantic_empty(spark, empty_docs):
    from pyspark_skyline_spark.operators.dedup import paragraph_dedup
    from pyspark_skyline_spark.operators.shuffle import (
        global_shuffle,
        grouped_row_number,
        mix_corpus,
    )
    from pyspark_skyline_spark.operators.similarity import semantic_dedup

    assert global_shuffle(empty_docs, ["doc_id"], n_shards=4).count() == 0
    assert (
        grouped_row_number(empty_docs, ["source"], ["doc_id"]).count() == 0
    )
    assert (
        mix_corpus(empty_docs, "source", {"src1": 5}, ["doc_id"]).count() == 0
    )
    assert paragraph_dedup(empty_docs, "doc_id", "text", chunk_words=4).count() == 0
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert semantic_dedup(empty_emb, "vec_id", "embedding", nlist=4).count() == 0
