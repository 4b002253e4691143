"""Online Bollinger bands — the streaming twin of the reference's
headline volatility indicator (src/features/engineering.py bb_*).

O(window) state per symbol (the trailing closes), declared through
streaming/online.py. The batch twin tracks the batch feature pipeline's
prefix-sum RollingPlan to FP-association tolerance — same split as the
ATR/Wilder family.

Convention: pandas ``rolling(window, min_periods=window)`` — bands
null until the window fills; std is ddof=1; ``bb_width =
(upper - lower) / middle`` (the reference's definition).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from marketdatapipeline_spark.streaming.online import OnlineOperator, doubles, state_vector

__all__ = ["online_bollinger", "online_bollinger_batch"]

BOLL_STATE_SCHEMA, _FRESH = state_vector(tail=[])


def _scan_boll(prices, tail: list, window: int, n_std: float):
    """THE scan, shared by stream and twin: per row, the bands from
    the trailing ``window`` closes (None until full). Sums are
    recomputed per row in a FIXED left-to-right order over the
    window buffer, so any two executions agree bit-for-bit."""
    out = []
    for p in prices:
        p = float(p)
        tail.append(p)
        if len(tail) > window:
            tail.pop(0)
        if len(tail) < window:
            out.append((None, None, None, None))
            continue
        s = 0.0
        for v in tail:
            s += v
        mean = s / window
        q = 0.0
        for v in tail:
            d = v - mean
            q += d * d
        std = math.sqrt(q / (window - 1))
        upper = mean + std * n_std
        lower = mean - std * n_std
        # no relative width on a zero middle band: NULL, where the pandas
        # feature path gives NaN, instead of ZeroDivisionError
        width = (upper - lower) / mean if mean != 0.0 else None
        out.append((mean, upper, lower, width))
    return out, tail


def _scan_frame(pdf, st: tuple, window: int, n_std: float, col: str):
    vals, tail = _scan_boll(pdf[col], list(st[0]), window, n_std)
    return vals, (tail,)


_OP = OnlineOperator(
    _scan_frame,
    BOLL_STATE_SCHEMA,
    _FRESH,
    out_fields=doubles("bb_middle", "bb_upper", "bb_lower", "bb_width"),
    carry=doubles("price"),
)


def online_bollinger(
    ticks: DataFrame,
    window: int = 20,
    n_std: float = 2.0,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous Bollinger bands over a tick stream; O(window)
    state per symbol."""
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    return _OP.stream(ticks, window, float(n_std), "price", state_ttl=state_ttl)


def online_bollinger_batch(
    ticks: DataFrame,
    window: int = 20,
    n_std: float = 2.0,
    price_col: str = "price",
    order_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Batch twin: identical ``_scan_boll`` from fresh state over
    each symbol's in-order history."""
    return _OP.batch(ticks, window, float(n_std), price_col, order_cols=order_cols)
