"""Event-time windowed streaming skyline.

The reference has no event time at all (SURVEY.md §2.3 — its stream job
keeps one running skyline over everything ever seen). This operator is
the event-time composition the engine's batch side already has
(``windowed_skyline``) lifted onto Structured Streaming: one
independent Pareto frontier per tumbling window, maintained
incrementally, with WATERMARK-BOUNDED state — a window's frontier state
is dropped once the watermark passes its end, so state is O(frontiers
of open windows), not O(all windows ever).

Design: the per-cell operator of ``stateful_cell_skyline``
(``streaming/stateful.py::_cell_skyline``) with the window start
prepended to the key and an EventTimeTimeout that expires closed
windows. Rows with a NULL or NaN dimension never enter state there, as
in the batch family, but they still pass the watermark and advance event
time. Emission is update-mode (a group re-emits its frontier when it
changes); the union of emissions per window is a superset-correct
candidate pool (a point leaves a frontier only by being dominated, and
dominance never crosses windows or cells), so

    skyline(all emissions of window w) == skyline(all rows in w)

— the prefix-consistency test reduces each window's emissions with the
batch operator and compares against ``windowed_skyline`` of the same
data (tests/test_windowed_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark_skyline_spark.streaming.stateful import _cell_skyline
from pyspark_skyline_spark.streaming.watermark import _with_event_time

__all__ = ["windowed_stream_skyline"]


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
    local frontiers: input columns + ``__sky_cell`` + ``window_start``.

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
    return _cell_skyline(
        stream_df, dims, bounds, partitions, window=(ts_col, window_duration)
    )
