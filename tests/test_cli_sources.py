"""CLI (reference-compatible contract) + source builders."""

import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pyspark_skyline_spark.sources.streams import (
    decode_csv_points,
    encode_json_records,
    file_stream_source,
    kafka_json_sink_writer,
)

REPO = str(Path(__file__).resolve().parents[1])


def planted_csv(tmp_path):
    """A headerless ``x1,x2`` integer point CSV (the reference's format)
    with a planted 12-point frontier under ``x1 MIN, x2 MIN``: (i, 100 - i)
    for i = 0..11, and for each of them 24 rows that it dominates."""
    rows = [(i, 100 - i) for i in range(12)]
    rows += [(i + a, 100 - i + b) for i in range(12) for a in range(5) for b in range(5) if a or b]
    path = tmp_path / "points.csv"
    path.write_text("".join(f"{x},{y}\n" for x, y in rows))
    return str(path)


def test_cli_batch_csv(tmp_path):
    out = tmp_path / "sky.parquet"
    r = subprocess.run(
        [
            sys.executable, "-m", "pyspark_skyline_spark.cli",
            "batch", "SKYLINE OF x1 MIN, x2 MIN", "MR_DIM", "8",
            "--input", planted_csv(tmp_path), "--dims", "2", "--output", str(out), "--cpus", "4",
        ],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "wrote 12 skyline rows" in r.stdout  # the planted frontier


def test_cli_stream_mode(spark, tmp_path):
    # reference stream_job parity: the stream subcommand consumes a
    # directory through Structured Streaming and must produce the same
    # frontier as the batch path
    src = tmp_path / "pts_in"
    out = tmp_path / "sky_out"
    pts = spark.read.schema("x1 INT, x2 INT").csv(planted_csv(tmp_path))
    pts.repartition(2).write.parquet(str(src))
    r = subprocess.run(
        [
            sys.executable, "-m", "pyspark_skyline_spark.cli",
            "stream", "SKYLINE OF x1 MIN, x2 MIN", "MR_DIM", "8",
            "--input-dir", str(src), "--output", str(out), "--cpus", "4",
        ],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = spark.read.parquet(str(out)).select("x1", "x2").dropDuplicates()
    assert sorted(map(tuple, got.collect())) == [(i, 100 - i) for i in range(12)]


def test_cli_rejects_bad_query():
    r = subprocess.run(
        [sys.executable, "-m", "pyspark_skyline_spark.cli", "batch", "NOT A QUERY"],
        capture_output=True, text=True, timeout=120, cwd=REPO,
    )
    assert r.returncode != 0


def test_kafka_sink_writer_shape(spark, sf_dir):
    static = spark.read.parquet(f"{sf_dir}/orders.parquet")
    stream = file_stream_source(
        spark, sf_dir, static.schema, path_glob="orders.parquet"
    )
    writer = kafka_json_sink_writer(
        stream, "host:9092", "out", key_col="o_orderkey"
    )
    # builder configures without a broker; starting it would need one
    assert writer is not None


def test_kafka_edge_transforms_roundtrip(spark):
    # the reference's full Kafka record path minus only the socket:
    # CSV record values -> decode -> skyline -> JSON record values ->
    # parse back; proves both edge transforms on real executors
    from pyspark_skyline_spark import skyline

    raw = spark.createDataFrame(
        [("1,9",), ("3,3",), ("9,1",), ("5,5",), ("2,8",)], "value string"
    )
    pts = decode_csv_points(raw, 2)
    assert pts.columns == ["x1", "x2"] and pts.count() == 5

    sky = skyline(pts, [("x1", "min"), ("x2", "min")])
    records = encode_json_records(sky.withColumn("key", F.col("x1")), key_col="key")
    assert records.columns == ["key", "value"]
    parsed = records.select(
        F.from_json(F.col("value"), "x1 INT, x2 INT").alias("p")
    ).select("p.*")
    got = sorted(tuple(r) for r in parsed.collect())
    # (5,5) dominated by (3,3); the rest are pairwise incomparable
    assert got == [(1, 9), (2, 8), (3, 3), (9, 1)]


def test_file_stream_source(spark, sf_dir, tmp_path):
    static = spark.read.parquet(f"{sf_dir}/orders.parquet")
    stream = file_stream_source(
        spark, sf_dir, static.schema, path_glob="orders.parquet"
    )
    assert stream.isStreaming
    q = (
        stream.groupBy().agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("t_src_cnt").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    n = spark.sql("SELECT n FROM t_src_cnt").collect()[0][0]
    assert n == static.count()


def test_write_table_partitioned_roundtrip(spark, tmp_path):
    """Hive-partitioned write: one file per partition value (the
    pre-write repartition prevents the tasks x values small-file
    explosion), prunable + readable back identically."""
    import glob

    from pyspark.sql import functions as F
    from pyspark_skyline_spark.sources.sinks import write_table

    df = spark.range(0, 1000).withColumn("grp", (F.col("id") % 3).cast("string"))
    path = str(tmp_path / "t")
    write_table(df, path, partition_by=["grp"])
    for g in ("0", "1", "2"):
        files = glob.glob(f"{path}/grp={g}/*.parquet")
        assert len(files) == 1, files
    back = spark.read.parquet(path)
    assert back.count() == 1000
    # partition values come back type-inferred (ints here)
    assert {str(r.grp) for r in back.select("grp").distinct().collect()} == {"0", "1", "2"}
    # partition pruning: a grp filter must not scan the other directories
    from pyspark_skyline_spark.plans import formatted_plan

    plan = formatted_plan(back.filter(F.col("grp") == "1"))
    assert "PartitionFilters: [isnotnull(grp" in plan, plan


def test_compact_table_fixes_small_files(spark, tmp_path):
    """64 tiny files -> a handful of target-sized ones; rows identical;
    in-place compaction refused."""
    import pytest as _pytest

    from pyspark.sql import functions as F
    from pyspark_skyline_spark.sources.sinks import compact_table, file_stats

    df = spark.range(0, 20_000).withColumn("v", F.col("id") * 2)
    small = str(tmp_path / "small")
    df.repartition(64).write.parquet(small)
    assert file_stats(small)["n_files"] == 64

    out = str(tmp_path / "compacted")
    stats = compact_table(spark, small, out, target_mb=256)
    # 20k rows of (long, long) is far below one 256 MB target file
    assert stats["n_files"] == 1
    back = spark.read.parquet(out)
    assert back.count() == 20_000
    assert back.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]

    with _pytest.raises(ValueError):
        compact_table(spark, small, small)
    with _pytest.raises(ValueError):
        compact_table(spark, str(tmp_path / "missing"), out)


def test_compact_table_preserves_hive_partitioning(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F
    from pyspark_skyline_spark.sources.sinks import compact_table

    df = spark.range(0, 3000).withColumn("grp", (F.col("id") % 3).cast("string"))
    small = str(tmp_path / "p_small")
    df.repartition(16).write.partitionBy("grp").parquet(small)
    assert len(glob.glob(f"{small}/grp=0/*.parquet")) > 1

    out = str(tmp_path / "p_compacted")
    compact_table(spark, small, out, partition_by=["grp"])
    for g in ("0", "1", "2"):
        assert len(glob.glob(f"{out}/grp={g}/*.parquet")) == 1
    assert spark.read.parquet(out).count() == 3000


def test_write_table_bloom_filters(spark, tmp_path):
    """Bloom-enabled writes must carry the filter bytes (size delta is
    the observable — pyarrow doesn't expose bloom offsets) and read
    back identically; non-parquet formats reject the option."""
    import pytest as _pytest

    from pyspark.sql import functions as F
    from pyspark_skyline_spark.sources.sinks import file_stats, write_table

    df = spark.range(0, 50_000).select(
        F.xxhash64("id").alias("k"), F.col("id").alias("v")
    )
    plain = str(tmp_path / "plain")
    bloomed = str(tmp_path / "bloomed")
    write_table(df, plain)
    write_table(df, bloomed, bloom_filter_cols=["k"], bloom_ndv=50_000)
    assert file_stats(bloomed)["total_bytes"] > file_stats(plain)["total_bytes"]
    assert spark.read.parquet(bloomed).count() == 50_000

    with _pytest.raises(ValueError):
        write_table(df, str(tmp_path / "x"), fmt="csv", bloom_filter_cols=["k"])
    with _pytest.raises(ValueError):
        write_table(df, str(tmp_path / "x"), bloom_filter_cols=["nope"])


def test_compact_table_partitioned_sizing_threads_through(spark, tmp_path):
    """r3 ADVICE: target_mb must also govern the hive-layout path. With
    a tiny target each partition directory is split into multiple files
    (salted slices); with a huge target each collapses to one."""
    import glob

    from pyspark.sql import functions as F
    from pyspark_skyline_spark.sources.sinks import compact_table

    df = spark.range(0, 40_000).withColumn(
        "grp", (F.col("id") % 2).cast("string")
    ).withColumn("pad", F.sha2(F.col("id").cast("string"), 256))
    small = str(tmp_path / "ps_small")
    df.repartition(16).write.partitionBy("grp").parquet(small)

    tight = str(tmp_path / "ps_tight")
    stats = compact_table(spark, small, tight, target_mb=1, partition_by=["grp"])
    for g in ("0", "1"):
        assert len(glob.glob(f"{tight}/grp={g}/*.parquet")) > 1, g
    assert stats["n_files"] > 2
    back = spark.read.parquet(tight)
    assert back.count() == 40_000
    assert back.agg(F.sum("id")).first()[0] == df.agg(F.sum("id")).first()[0]


def test_compact_table_explicit_file_uri(spark, tmp_path):
    """The layout census must see scheme-qualified URIs, not just bare
    OS paths (r11 verdict ask #1 — the same call shape an hdfs:// or
    s3a:// table arrives in): census + compaction driven through
    explicit file: URIs, and the same-path guard must equate the
    qualified URI with its bare-path spelling."""
    import pytest

    from pyspark_skyline_spark.sources.sinks import compact_table, file_stats

    small = str(tmp_path / "small_uri")
    spark.range(0, 20_000).repartition(16).write.parquet(small)
    uri = "file://" + small
    stats = file_stats(uri)
    assert stats["n_files"] == 16
    assert stats["n_rows"] == 20_000
    out = str(tmp_path / "compact_uri")
    got = compact_table(spark, uri, "file://" + out)
    assert got["n_files"] == 1
    assert got["n_rows"] == 20_000
    with pytest.raises(ValueError, match="NEW directory"):
        compact_table(spark, uri, small)


def test_hadoop_readable_footer_parity(spark, tmp_path):
    """_HadoopReadable (the bounded-range Hadoop-stream adapter behind
    remote parquet footer reads) must hand pyarrow the exact same
    footer a local read sees: num_rows/schema parity on a real file,
    plus the file-like semantics pyarrow relies on (seek whence, tell,
    bounded reads past EOF)."""
    import pyarrow.parquet as pq

    from pyspark_skyline_spark.sources.sinks import _HadoopReadable

    p = str(tmp_path / "t")
    spark.range(0, 12_345).repartition(1).write.parquet(p)
    f = next(
        str(x) for x in (tmp_path / "t").iterdir()
        if x.name.endswith(".parquet") and not x.name.startswith(("_", "."))
    )
    import os

    size = os.path.getsize(f)
    local_meta = pq.ParquetFile(f).metadata
    adapter = _HadoopReadable(spark, "file://" + f, size)
    remote_meta = pq.ParquetFile(adapter).metadata
    assert remote_meta.num_rows == local_meta.num_rows == 12_345
    assert remote_meta.num_columns == local_meta.num_columns
    # file-like contract
    a = _HadoopReadable(spark, "file://" + f, size)
    assert a.size() == size and a.tell() == 0
    assert a.seek(-8, 2) == size - 8  # whence=2: from end
    tail = a.read(100)  # bounded at EOF
    assert tail == open(f, "rb").read()[-8:]
    assert a.read() == b"" and a.tell() == size
    assert a.seek(4) == 4 and a.read(4) == open(f, "rb").read()[4:8]
