"""Streaming sessionization — the event-time twin of
``operators.sessions`` (batch gap-based sessions).

``F.session_window`` maintains per-key session state natively in the
streaming aggregation: a session closes when no event arrives within
``gap`` of its last event, and the watermark finalizes (emits and
evicts) closed sessions. This is the engine-managed version of the
batch lag + running-sum composition — same session boundaries, but
state is bounded by the watermark instead of requiring the full
history in one window partition.

Aggregates are min/max/count built-ins only: one stateful streaming
aggregation, no Python in the loop, state size O(open sessions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sessionize(events: DataFrame, gap: str, user_col: str, time_col: str):
    """Shared by the streaming and batch paths — parity by construction.
    Aggregates ``time_col``, the column it sessionizes on, whatever its
    name."""
    return (
        events.groupBy(
            F.session_window(F.col(time_col), gap).alias("session"),
            F.col(user_col),
        )
        .agg(
            F.min(time_col).alias("session_start"),
            F.max(time_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            user_col,
            F.col("session.start").alias("window_start"),
            F.col("session.end").alias("window_end"),
            "session_start",
            "session_end",
            "n_events",
        )
    )


def sessionize_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
    time_col: str = "ts",
) -> DataFrame:
    """Per-(user, session) summary rows, emitted in append mode once
    the watermark closes the session."""
    events = events.withWatermark(time_col, watermark)
    return _sessionize(events, gap, user_col, time_col)


def sessionize_batch(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    time_col: str = "ts",
) -> DataFrame:
    """Batch twin on the same ``session_window`` expression — the
    parity oracle for the streaming path, and the cross-check that
    ``session_window`` draws the same boundaries as the explicit
    lag/running-sum composition in ``operators.sessions``.

    Note the closed-session ``session.end`` is last-event + gap by
    definition (the window extends to where the NEXT event could have
    landed); ``session_end`` is the last event itself, matching
    ``operators.sessions.session_stats``.
    """
    return _sessionize(events, gap, user_col, time_col)
