"""Event-time windowed streaming skyline.

The reference has no event time at all (SURVEY.md §2.3 — its stream job
keeps one running skyline over everything ever seen). This operator is
the event-time composition the engine's batch side already has
(``windowed_skyline``) lifted onto Structured Streaming: one
independent Pareto frontier per tumbling window, maintained
incrementally, with WATERMARK-BOUNDED state — a window's frontier state
is dropped once the watermark passes its end, so state is O(frontiers
of open windows), not O(all windows ever).

Design: ``applyInPandasWithState`` keyed by (window_start, cell) — the
same per-cell frontier kernel as ``stateful_cell_skyline`` with the
window start prepended to the key and an EventTimeTimeout that expires
closed windows. Emission is update-mode (a group re-emits its frontier
when it changes); the union of emissions per window is a
superset-correct candidate pool (a point leaves a frontier only by
being dominated, and dominance never crosses windows or cells), so

    skyline(all emissions of window w) == skyline(all rows in w)

— the prefix-consistency test reduces each window's emissions with the
batch operator and compares against ``windowed_skyline`` of the same
data (tests/test_windowed_streaming.py).
"""

from __future__ import annotations

import pickle

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from pyspark_skyline_spark.kernel import find_skyline_mask
from pyspark_skyline_spark.operators.skyline import (
    _CELL,
    _minspace_exprs,
    _mr_dim_key,
    _normalize_dims,
)
from pyspark_skyline_spark.streaming.watermark import _with_event_time

__all__ = ["windowed_stream_skyline"]

_WSTART = "window_start"


def windowed_stream_skyline(
    stream_df: DataFrame,
    ts_col: str,
    window_duration: str,
    dims,
    bounds: dict[str, tuple[float, float]],
    delay: str = "10 minutes",
    partitions: int = 8,
) -> DataFrame:
    """Streaming DataFrame -> update-mode stream of per-(window, cell)
    local frontiers: input columns + ``window_start`` + ``__sky_cell``.

    State per group is that group's frontier; groups whose window closed
    (watermark past window end) are expired via EventTimeTimeout, which
    is what bounds total state under unbounded streams — the fix for
    the reference's grow-forever state (stream_job.py:180).

    ``bounds`` are caller-provided per-column (lo, hi) for the cell key
    (streaming cannot take the batch bounds pass). Unlike windowed
    AGGREGATIONS, arbitrary stateful operators do not get engine-side
    late-row filtering, so this operator drops later-than-watermark
    rows itself (inside the state function, against
    ``getCurrentWatermarkMs``) — the same late-data policy as
    ``windowed_stream_stats``, applied explicitly.
    """
    dims = _normalize_dims(dims)
    dim_cols = [c for c, _ in dims]
    senses = [s for _, s in dims]

    # The state function compares NAIVE pandas datetimes (epoch of the
    # session-zone wall clock) against getCurrentWatermarkMs (UTC
    # epoch); any non-UTC session zone would silently shift the late-row
    # cut and the timeout anchor, so enforce the requirement loudly
    # instead of documenting it away.
    tz = stream_df.sparkSession.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(
            "windowed_stream_skyline requires spark.sql.session.timeZone="
            f"'UTC' (got {tz!r}): the in-state watermark comparison treats "
            "naive event times as UTC epochs"
        )

    stream_df = _with_event_time(stream_df, ts_col)
    stream_df = stream_df.withWatermark(ts_col, delay)

    vs = _minspace_exprs(stream_df, dims, bounds)
    key, _ = _mr_dim_key(vs, partitions)
    keyed = stream_df.withColumn(_CELL, key).withColumn(
        _WSTART, F.window(F.col(ts_col), window_duration).getField("start")
    )

    out_schema = keyed.schema
    state_schema = StructType([StructField("frontier_pkl", BinaryType(), True)])

    def update(key_tuple, pdfs, state):
        if state.hasTimedOut:
            # window closed: release the frontier state, emit nothing
            # (every frontier version was already emitted update-mode)
            state.remove()
            return
        wm_ms = state.getCurrentWatermarkMs()
        batches = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            # explicit late-data policy: arbitrary stateful ops receive
            # late rows; drop anything behind the watermark
            if wm_ms > 0:
                pdf = pdf[pdf[ts_col].astype("int64") // 10**6 >= wm_ms]
            if len(pdf):
                batches.append(pdf)
        if state.exists:
            (blob,) = state.get
            batches.append(pickle.loads(blob))
        if not batches:
            return
        merged = pd.concat(batches, ignore_index=True)
        mask = find_skyline_mask([merged[c] for c in dim_cols], senses)
        frontier = merged[mask]
        state.update((pickle.dumps(frontier),))
        # Expiry anchor: the timeout must exceed the current watermark,
        # and state kept past a window's close is only wasted memory, so
        # anchor just past max(newest event seen, watermark). Early
        # expiry is CORRECT (not just safe): every true frontier member
        # survives whatever reduction it participates in, so it is
        # emitted by some batch whether or not earlier state was
        # dropped, and skyline(union of emissions) is unchanged.
        ts_max_ms = int(pd.Timestamp(merged[ts_col].max()).value // 10**6)
        state.setTimeoutTimestamp(max(ts_max_ms, wm_ms) + 1)
        yield frontier

    return keyed.groupBy(_WSTART, _CELL).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="EventTimeTimeout",
    )
