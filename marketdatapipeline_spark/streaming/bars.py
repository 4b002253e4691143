"""Ticks → event-time OHLCV bars (tumbling windows + watermark).

The reference downloads pre-aggregated 1-minute bars from Alpha Vantage
(reference src/data/ingestion.py:107-206); this module *builds* those
bars from a raw tick stream, which is the operation a real market-data
pipeline runs upstream. Semantics:

* event-time tumbling windows (``F.window``) — bar identity comes from
  the tick's exchange timestamp, not arrival time;
* watermark bounds state: ticks later than ``watermark`` past the
  max seen event time are dropped and their bar is finalized —
  the streaming answer to the reference's implicit "data is already
  sorted" assumption (ingestion.py:184);
* open/close via ``min_by``/``max_by`` on the tick timestamp — a
  deterministic, order-independent aggregate (Spark's plain
  ``first``/``last`` are arrival-order dependent and wrong here).

Every aggregate is a built-in declarative aggregate, so the plan is a
single streaming stateful aggregation: partial (map-side) aggregation
per micro-batch task, one shuffle on (window, symbol), state store
updates — no Python in the hot path, scales linearly in executor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _bars(ticks: DataFrame, bar_interval: str) -> DataFrame:
    """The aggregation shared verbatim by the streaming and batch paths —
    batch parity is by construction, not by reimplementation."""
    return (
        ticks.groupBy(F.window("ts", bar_interval).alias("bar"), "symbol")
        .agg(
            F.min_by("price", "ts").alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", "ts").alias("close"),
            F.sum("size").alias("volume"),
            F.count(F.lit(1)).alias("tick_count"),
        )
        .select(
            "symbol",
            F.col("bar.start").alias("datetime"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "tick_count",
        )
    )


def ticks_to_bars(
    ticks: DataFrame,
    bar_interval: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming tick→bar aggregation (append mode once watermark passes).

    Output schema matches the batch engine's bar input: ``symbol,
    datetime, open, high, low, close, volume`` (+ ``tick_count``),
    with ``datetime`` = window start, so finalized bars can feed
    ``compute_all_features`` directly.
    """
    return _bars(ticks.withWatermark("ts", watermark), bar_interval)


def bars_from_ticks_batch(ticks: DataFrame, bar_interval: str = "1 minute") -> DataFrame:
    """Batch twin of ``ticks_to_bars`` — same aggregates, no watermark.

    Used (a) as the parity oracle for the streaming path and (b) for
    backfills over historical tick archives, where a plain shuffle
    aggregation beats streaming state.
    """
    return _bars(ticks, bar_interval)
