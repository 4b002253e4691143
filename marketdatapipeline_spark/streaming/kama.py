"""Online Kaufman adaptive moving average (KAMA).

KAMA's smoothing constant varies per bar with the efficiency ratio
(|net change| / path length over the trailing window), so unlike
RSI/MACD/ATR the recursion has a VARIABLE coefficient —
``kama_t = kama_{t-1} + sc_t (p_t - kama_{t-1})`` with ``sc_t``
data-dependent — and no constant-alpha blocked decomposition
applies. That makes it a natural citizen of the streaming family
(streaming/online.py): O(window) state per symbol (the trailing closes
that define the efficiency ratio, plus the running KAMA).

Convention (Kaufman's book / the common TA implementation):
``er = |p_t - p_{t-n}| / sum |p_i - p_{i-1}|`` over the window
(0 when the path length is 0), ``sc = (er*(f - s) + s)^2`` with
``f = 2/(fast+1)``, ``s = 2/(slow+1)``; KAMA seeds at the first bar
with a full window (``kama = p`` there), null before.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from marketdatapipeline_spark.streaming.online import OnlineOperator, doubles, state_vector

__all__ = ["online_kama", "online_kama_batch"]

#: tail holds the last window+1 closes
KAMA_STATE_SCHEMA, _FRESH = state_vector(n_rows=0, tail=[], kama=float("nan"))


def _scan_kama(
    prices, st: tuple, window: int, fast: int, slow: int
):
    """THE recurrence, shared by the stream handler and the batch
    twin. ``st = (n_rows, tail, kama)``; returns per-row
    (er, kama-or-None) plus the advanced state."""
    n_rows, tail, kama = st
    tail = list(tail)
    f = 2.0 / (fast + 1.0)
    s = 2.0 / (slow + 1.0)
    out = []
    for p in prices:
        p = float(p)
        tail.append(p)
        if len(tail) > window + 1:
            tail.pop(0)
        n_rows += 1
        if len(tail) < window + 1:
            out.append((None, None))
            continue
        path = 0.0
        for i in range(1, len(tail)):
            path += abs(tail[i] - tail[i - 1])
        er = abs(tail[-1] - tail[0]) / path if path > 0 else 0.0
        sc = (er * (f - s) + s) ** 2
        if kama is None or kama != kama:  # seed at first full window
            kama = p
        else:
            kama = kama + sc * (p - kama)
        out.append((er, kama))
    return out, (n_rows, tail, kama)


_OP = OnlineOperator(
    lambda pdf, st, window, fast, slow, col: _scan_kama(
        pdf[col], st, window, fast, slow
    ),
    KAMA_STATE_SCHEMA,
    _FRESH,
    out_fields=doubles("efficiency_ratio", "kama"),
    carry=doubles("price"),
)


def online_kama(
    ticks: DataFrame,
    window: int = 10,
    fast: int = 2,
    slow: int = 30,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous KAMA over a tick stream; O(window) state/symbol."""
    if window < 1 or fast < 1 or slow <= fast:
        raise ValueError(
            f"need window >= 1, 1 <= fast < slow; got {window}, {fast}, {slow}"
        )
    return _OP.stream(ticks, window, fast, slow, "price", state_ttl=state_ttl)


def online_kama_batch(
    ticks: DataFrame,
    window: int = 10,
    fast: int = 2,
    slow: int = 30,
    price_col: str = "price",
    order_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Batch twin: the identical ``_scan_kama`` from fresh state over
    each symbol's in-order history."""
    return _OP.batch(ticks, window, fast, slow, price_col, order_cols=order_cols)
