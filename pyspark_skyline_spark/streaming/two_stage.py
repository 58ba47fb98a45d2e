"""Composed two-stage continuous skyline topology.

The reference runs two CONCURRENT streaming queries bridged by a Kafka
topic (reference src/jobs/stream_job.py:87-206): stage 1 maintains
per-partition local skylines in update mode, stage 2 consumes the
re-emitted frontiers and keeps a complete-mode global skyline. This
module is the single-pipeline Spark-native equivalent:

* stage 1 = ``stateful_cell_skyline`` (``applyInPandasWithState``): the
  per-cell frontier state lives in the state store, each cell re-emits
  its frontier when it changes — exactly the reference's update-mode
  stage-1 contract, minus the Kafka round-trip. A row with a NULL or
  NaN skyline dimension never enters that state, so stage 2 only ever
  sees comparable rows, as in the batch operator.
* stage 2 = the ``foreachBatch`` global merge: each micro-batch of
  emitted frontiers is folded into the running global frontier
  (``SkylineStreamState``) — the reference's complete-mode stage 2,
  with the single-task ``collect_list`` reduce replaced by one
  ``skyline()`` call per micro-batch, whose size policy runs the small
  pools of a steady stream as one codegen'd NOT-EXISTS anti-join.

Correctness rests on the same monotonicity argument the reference
exploits (SURVEY.md §3.2): under append-only input a dominated point
can never re-enter any frontier, so skyline(union of all stage-1
emissions) == skyline(all input) at every batch boundary — the
pipeline is prefix-consistent (tests/test_two_stage_streaming.py).

Triggers mirror the reference's two modes: ``availableNow=True``
reproduces the trigger-once batch topology (batch_job.py:146);
``processing_time="..."`` reproduces the continuous job
(stream_job.py:147,197).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark_skyline_spark.operators.skyline import _CELL
from pyspark_skyline_spark.streaming.skyline_stream import SkylineStreamState
from pyspark_skyline_spark.streaming.stateful import stateful_cell_skyline

__all__ = ["run_two_stage_skyline_stream"]


def run_two_stage_skyline_stream(
    stream_df: DataFrame,
    dims,
    bounds: dict[str, tuple[float, float]],
    partitions: int = 32,
    algo: str = "auto",
    query_name: str = "two_stage_skyline",
    processing_time: str | None = None,
    **skyline_kwargs,
) -> tuple[SkylineStreamState, "object"]:
    """Start the composed stage-1 -> stage-2 skyline over a stream.

    Returns ``(state, StreamingQuery)``. ``state.result()`` is the
    global frontier of everything ingested so far; with the default
    ``availableNow`` trigger the caller can ``awaitTermination()`` and
    read the complete skyline, with ``processing_time`` the query runs
    continuously and ``state.result()`` is prefix-consistent at every
    batch boundary (use ``query.processAllAvailable()`` to barrier).

    ``bounds`` are caller-provided per-column (lo, hi) for the stage-1
    partition key — streaming cannot take the batch path's data-driven
    bounds pass (see ``stateful_cell_skyline``).
    """
    cells = stateful_cell_skyline(stream_df, dims, bounds, partitions)
    state = SkylineStreamState(dims, algo, **skyline_kwargs)

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        # the update checkpoints the emissions once, so the stage-1
        # stateful stage runs once per micro-batch
        state.update(batch_df.drop(_CELL))

    writer = (
        cells.writeStream.foreachBatch(merge)
        .outputMode("update")
        .queryName(query_name)
    )
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return state, writer.start()
