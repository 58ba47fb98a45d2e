"""Stateful per-cell streaming skyline (``applyInPandasWithState``).

This is the faithful streaming analogue of the reference's stage-1
topology — per-partition local skylines maintained incrementally, each
cell re-emitting its frontier when it changes (update mode; reference
src/jobs/stream_job.py:87-153) — expressed as one stateful operator
instead of a Kafka round-trip. Per-cell state is bounded by that cell's
frontier (monotonicity under append-only input): a row with a NULL or
NaN skyline dimension never enters state, by the batch family's one rule
(``_has_values``). Downstream, the global skyline is the batch operator
over the union of emitted frontiers (stage-2 equivalent, reference
stream_job.py:158-206).

``_cell_skyline`` is the one update behind both this module's
``stateful_cell_skyline`` and ``windowed_stream_skyline``, which adds a
tumbling window to the key, the late-row drop and the expiry of closed
windows.

Unlike the batch path, streaming cannot take a data-driven bounds pass,
so the partition key derives from caller-provided ``bounds`` — the
honest streaming equivalent of the reference's fixed global domain
(src/config/configurations.py:17-18), but per-query instead of
hard-coded.
"""

from __future__ import annotations

import pickle

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from pyspark_skyline_spark.kernel import find_skyline_mask
from pyspark_skyline_spark.operators.skyline import (
    _CELL,
    _has_values,
    _minspace_exprs,
    _mr_dim_key,
    _normalize_dims,
)

__all__ = ["stateful_cell_skyline"]

_WSTART = "window_start"


def _cell_skyline(
    stream_df: DataFrame,
    dims,
    bounds: dict[str, tuple[float, float]],
    partitions: int,
    window: tuple[str, str] | None = None,
) -> DataFrame:
    """Update-mode stream of per-cell local frontiers: input columns +
    ``__sky_cell`` (+ ``window_start`` with ``window=(ts_col,
    window_duration)``, which keys the state by ``(window_start, cell)``).
    Each group's state is its frontier, pickled.

    A row that fails ``_has_values`` gets cell -1, whose group returns
    before it reads or writes state. The guard is a key rather than a
    filter because Catalyst pushes a filter below ``withWatermark``, and
    an incomparable row must still advance event time.

    With a window, the caller has set the watermark on ``ts_col``; rows
    behind it are dropped here, and a group's state expires by
    EventTimeTimeout once the watermark passes its newest event.
    """
    dims = _normalize_dims(dims)
    dim_cols = [c for c, _ in dims]
    senses = [s for _, s in dims]
    ts_col, window_duration = window or (None, None)

    vs = _minspace_exprs(stream_df, dims, bounds)
    key, _ = _mr_dim_key(vs, partitions)
    keyed = stream_df.withColumn(
        _CELL, F.when(_has_values(stream_df, dims), key).otherwise(-1)
    )
    keys = [_CELL]
    if window:
        keyed = keyed.withColumn(
            _WSTART, F.window(F.col(ts_col), window_duration).getField("start")
        )
        keys.insert(0, _WSTART)

    def update(key_tuple, pdfs, state):
        if state.hasTimedOut:
            # window closed: release the frontier state, emit nothing
            # (every frontier version was already emitted update-mode)
            state.remove()
            return
        if key_tuple[-1] < 0:  # the incomparable rows' cell
            return
        wm_ms = state.getCurrentWatermarkMs() if window else 0
        batches = []
        for pdf in pdfs:
            # explicit late-data policy: arbitrary stateful ops receive
            # late rows; drop anything behind the watermark
            if wm_ms > 0:
                pdf = pdf[pdf[ts_col].astype("int64") // 10**6 >= wm_ms]
            if len(pdf):
                batches.append(pdf)
        if state.exists:
            (blob,) = state.get
            prior = pickle.loads(blob)
            # state written before incomparable rows were keyed out may
            # still hold some: drop them as the frontier is read back
            batches.append(prior[prior[dim_cols].notna().all(axis=1)])
        if not batches:
            return
        merged = pd.concat(batches, ignore_index=True)
        frontier = merged[find_skyline_mask([merged[c] for c in dim_cols], senses)]
        state.update((pickle.dumps(frontier),))
        if window:
            # Expiry anchor: the timeout must exceed the current
            # watermark, and state kept past a window's close is only
            # wasted memory, so anchor just past max(newest event seen,
            # watermark). Early expiry is CORRECT (not just safe): every
            # true frontier member survives whatever reduction it
            # participates in, so it is emitted by some batch whether or
            # not earlier state was dropped, and skyline(union of
            # emissions) is unchanged.
            ts_max_ms = int(pd.Timestamp(merged[ts_col].max()).value // 10**6)
            state.setTimeoutTimestamp(max(ts_max_ms, wm_ms) + 1)
        yield frontier

    return keyed.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=keyed.schema,
        stateStructType=StructType([StructField("frontier_pkl", BinaryType(), True)]),
        outputMode="update",
        timeoutConf="EventTimeTimeout" if window else "NoTimeout",
    )


def stateful_cell_skyline(
    stream_df: DataFrame,
    dims,
    bounds: dict[str, tuple[float, float]],
    partitions: int = 32,
) -> DataFrame:
    """Streaming DataFrame -> update-mode stream of per-cell local
    skylines (full input rows + ``__sky_cell``).

    Compose with the batch ``skyline`` over the collected output for the
    global frontier; every emitted row set is a superset-correct
    candidate pool (a point only ever leaves a frontier by being
    dominated, so skyline(union of emissions) == skyline(all input)).
    Rows with a NULL or NaN dimension are neither kept nor emitted.
    """
    return _cell_skyline(stream_df, dims, bounds, partitions)
