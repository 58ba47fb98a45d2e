"""pyspark-skyline-engine: a PySpark-native skyline (Pareto frontier) and
LLM-data-pipeline operator library.

Re-expresses the capabilities of the reference project
miketheologitis/PySpark-Skyline (see SURVEY.md) as an idiomatic Spark
DataFrame library: native Column expressions for partitioning keys,
``applyInArrow`` NumPy kernels for the dominance test, and a
tree-structured final merge in place of the reference's single-task
global reduce (reference: src/jobs/batch_job.py:183-188).
"""

from pyspark_skyline_spark.kernel import find_skyline_mask, skyline_of_array
from pyspark_skyline_spark.parser import parse_skyline_query
from pyspark_skyline_spark.operators.skyline import (
    skyline,
    skyline_antijoin,
    skyline_layers,
    skyline_witness,
    representative_skyline,
    skyline_sql,
    warm_up,
    windowed_skyline,
)
from pyspark_skyline_spark.operators.asof import asof_join
from pyspark_skyline_spark.operators.skyband import k_skyband
from pyspark_skyline_spark.operators.sample import (
    hash_sample,
    pack_batches,
    pack_by_length,
    sessionize,
    split_dataset,
    stratified_hash_sample,
    weighted_sample,
)
from pyspark_skyline_spark.operators.dedup import (
    dedup_corpus,
    dedup_exact,
    dedup_incremental,
    dedup_incremental_neardup,
    minhash_lsh_pairs,
    minhash_signatures,
    near_dup_clusters,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from pyspark_skyline_spark.operators.filtering import (
    decontaminate,
    pii_scrub,
    repetition_stats,
)
from pyspark_skyline_spark.operators.fuzzy import fuzzy_pairs
from pyspark_skyline_spark.operators.jsonx import (
    infer_json_schema,
    json_extract,
    json_flatten,
)
from pyspark_skyline_spark.operators.profile import (
    column_correlations,
    column_profile,
    column_quantiles,
    histogram,
)
from pyspark_skyline_spark.operators.rangejoin import range_join
from pyspark_skyline_spark.operators.resample import resample
from pyspark_skyline_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk,
    cosine_topk_batch,
    cosine_topk_ivf,
    cosine_topk_lsh,
)
from pyspark_skyline_spark.operators.skewjoin import salted_join
from pyspark_skyline_spark.operators.text import (
    bpe_encode,
    bpe_from_histogram,
    chunk_documents,
    extract_domains,
    fingerprint,
    lang_id,
    learn_bpe_merges,
    quality_flags,
    subword_count,
    subword_decode,
    subword_encode,
    text_stats,
    token_count,
    winnow_fingerprints,
)
from pyspark_skyline_spark.operators.topk import top_k_per_group
from pyspark_skyline_spark.operators.upsert import merge_upsert, scd2_history
from pyspark_skyline_spark.pipeline import curate_corpus

__all__ = [
    "find_skyline_mask",
    "skyline_of_array",
    "parse_skyline_query",
    "skyline",
    "skyline_antijoin",
    "skyline_sql",
    "skyline_layers",
    "skyline_witness",
    "representative_skyline",
    "k_skyband",
    "warm_up",
    "windowed_skyline",
    "asof_join",
    "range_join",
    "dedup_corpus",
    "near_dup_clusters",
    "simhash_pairs",
    "hash_sample",
    "stratified_hash_sample",
    "pack_batches",
    "sessionize",
    "chunk_documents",
    "dedup_exact",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash",
    "column_profile",
    "repetition_stats",
    "pii_scrub",
    "decontaminate",
    "cosine_near_dup_pairs",
    "cosine_topk",
    "cosine_topk_ivf",
    "cosine_topk_lsh",
    "fingerprint",
    "lang_id",
    "quality_flags",
    "subword_count",
    "subword_encode",
    "subword_decode",
    "learn_bpe_merges",
    "bpe_from_histogram",
    "bpe_encode",
    "text_stats",
    "token_count",
    "winnow_fingerprints",
    "top_k_per_group",
    # round-3 session additions
    "fuzzy_pairs",
    "json_extract",
    "json_flatten",
    "infer_json_schema",
    "merge_upsert",
    "scd2_history",
    "resample",
    "salted_join",
    "weighted_sample",
    "pack_by_length",
    "split_dataset",
    "histogram",
    "column_quantiles",
    "column_correlations",
    "cosine_topk_batch",
    "extract_domains",
    "dedup_incremental",
    "dedup_incremental_neardup",
    "minhash_signatures",
    "curate_corpus",
]
