"""Online volume-clock bucket assignment — the streaming twin of
``operators/volume_bars.py``.

Batch volume bars assign each row to ``floor(cum_before /
bucket_size)`` via a running-sum window; on an unbounded feed that
cumulative volume IS the state — one number per symbol, carried
across micro-batches (streaming/online.py).

The stream emits the per-tick bucket assignment (append mode);
downstream aggregation to OHLCV-per-bucket composes with any sink
(the bucket id is deterministic, so late aggregation is an ordinary
groupBy). With integer-valued sizes every prefix sum is exact, so
stream == batch == the window-based ``volume_bars`` bucket column
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField

from marketdatapipeline_spark.streaming.online import OnlineOperator, doubles, state_vector

__all__ = ["online_volume_clock", "online_volume_clock_batch"]

VC_STATE_SCHEMA, _FRESH = state_vector(cum_volume=0.0)


def _scan_cum(sizes, cum: float, bucket_size: float):
    """THE assignment, shared by the stream handler and the batch
    twin: each row's bucket is the bucket its STARTING cumulative
    volume falls in (identical to operators/volume_bars.py)."""
    out = []
    for s in sizes:
        s = float(s) if s == s else 0.0  # NaN size contributes nothing
        out.append((int(cum // bucket_size), cum + s))
        cum += s
    return out, cum


def _scan_frame(pdf, st: tuple, bucket_size: float):
    vals, cum = _scan_cum(pdf["size"], st[0], bucket_size)
    return vals, (cum,)


_OP = OnlineOperator(
    _scan_frame,
    VC_STATE_SCHEMA,
    _FRESH,
    out_fields=(StructField("bucket", LongType()), *doubles("cum_volume")),
    carry=doubles("price", "size"),
)


def online_volume_clock(
    ticks: DataFrame,
    bucket_size: float,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous volume-clock bucket assignment over a tick stream.
    One groupBy(symbol) shuffle; state is ONE float per symbol."""
    if bucket_size <= 0:
        raise ValueError(f"bucket_size must be > 0, got {bucket_size}")
    return _OP.stream(ticks, float(bucket_size), state_ttl=state_ttl)


def online_volume_clock_batch(
    ticks: DataFrame,
    bucket_size: float,
    order_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Batch twin: the identical ``_scan_cum`` from fresh state over
    each symbol's full in-order history."""
    return _OP.batch(ticks, float(bucket_size), order_cols=order_cols)
