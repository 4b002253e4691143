"""Online anchored VWAP — the streaming twin of
operators/vwap.py:anchored_vwap.

The batch operator needs each (symbol, period)'s history inside one
window frame; this one carries a **3-field state vector per symbol**
(anchor-period start + the two running sums) across micro-batches
(streaming/online.py), so an unbounded tick feed gets the running
day/week/month VWAP with O(symbols) state, not O(rows). A tick whose
anchor period differs from the state's resets the sums — the period
rollover needs no timer, the first tick of the new period triggers it.

Batch parity is BIT-exact on an in-order feed: both paths add the
same per-row IEEE products left-to-right (Spark's cumulative window
sum updates incrementally, exactly like the scan here), pinned by
tests/test_streaming.py. Same in-order-per-symbol contract as
online_indicators (stateful.py) — the running sum is order-defined in
any engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from marketdatapipeline_spark.streaming.online import OnlineOperator, doubles, state_vector

__all__ = ["online_vwap", "online_vwap_batch"]

#: anchor_us -1 = fresh
VWAP_STATE_SCHEMA, _FRESH = state_vector(anchor_us=-1, pv=0.0, v=0.0)


def _anchor_us(ts: pd.Series, anchor: str) -> pd.Series:
    """Anchor-period start per tick, as epoch microseconds — the same
    boundaries Spark's date_trunc draws (week starts Monday)."""
    if anchor == "day":
        per = ts.dt.floor("D")
    elif anchor == "week":
        per = (ts - pd.to_timedelta(ts.dt.dayofweek, unit="D")).dt.floor("D")
    elif anchor == "month":
        per = ts.dt.to_period("M").dt.start_time
    else:
        raise ValueError("anchor must be one of ['day', 'month', 'week']")
    return per.astype("int64") // 1000


def _scan_vwap(pdf: pd.DataFrame, st: tuple, anchor: str):
    """Sequential scan: reset sums at each period boundary, then
    pv += price·size, v += size — the identical addition order the
    batch window sum applies."""
    anchors = _anchor_us(pdf["ts"], anchor).to_numpy()
    prices = pdf["price"].to_numpy()
    sizes = pdf["size"].to_numpy()
    a, pv, v = st
    vwaps = []
    for per, p, s in zip(anchors, prices, sizes):
        if per != a:
            a, pv, v = int(per), 0.0, 0.0
        pv += p * s
        v += s
        # None (not NaN) on zero volume: Spark's window-sum division by
        # a zero sum yields NULL, so the stream==batch parity triangle
        # must use the same null convention on degenerate periods.
        vwaps.append(pv / v if v != 0 else None)
    return vwaps, (a, pv, v)


def _check_anchor(anchor: str) -> None:
    _anchor_us(pd.Series([pd.Timestamp("2024-01-01")]), anchor)


def _vwap_columns(pdf: pd.DataFrame, st: tuple, anchor: str):
    vwaps, st = _scan_vwap(pdf, st, anchor)
    # None on zero volume becomes NaN here and reaches Spark as NULL
    vwap = np.array(vwaps, dtype=float)
    return {"vwap": vwap, "vwap_dev": pdf["price"].to_numpy() - vwap}, st


_OP = OnlineOperator(
    _vwap_columns,
    VWAP_STATE_SCHEMA,
    _FRESH,
    out_fields=doubles("vwap", "vwap_dev"),
    carry=doubles("price", "size"),
)


def online_vwap(
    ticks: DataFrame,
    anchor: str = "day",
    state_ttl: str | int | None = None,
) -> DataFrame:
    """Continuous anchored VWAP over a stream of per-symbol ticks
    (``symbol, ts, price, size``): one output row per tick carrying
    the running period VWAP and the price's deviation from it. The
    groupBy(symbol) is the only shuffle; ``state_ttl`` evicts quiet
    symbols exactly as in online_indicators."""
    _check_anchor(anchor)
    return _OP.stream(ticks, anchor, state_ttl=state_ttl)


def online_vwap_batch(ticks: DataFrame, anchor: str = "day") -> DataFrame:
    """Batch twin: the IDENTICAL scan from fresh state over each
    symbol's full in-order history via plain ``applyInPandas`` —
    pytest pins stream == batch-twin AND batch-twin == the window
    operator (operators/vwap.py), closing the parity triangle."""
    _check_anchor(anchor)
    price, size = (ticks[c].cast("double").alias(c) for c in ("price", "size"))
    return _OP.batch(ticks.select("symbol", "ts", price, size), anchor)
