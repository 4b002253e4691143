"""Online (incremental) average true range with explicit state.

Streaming counterpart of ``operators/indicators.py:atr`` (Wilder
smoothing): the batch path rides the blocked EWM scan over full
histories; this operator carries a **3-field state vector per symbol**
(row count, last close, running ATR) across micro-batches — O(symbols)
state for an unbounded feed, declared through streaming/online.py.

Recurrence (matches ``pandas ewm(alpha=1/n, adjust=False)`` over the
true range, the batch operator's documented convention):

* ``tr = high - low`` on a symbol's first row (no previous close),
  else ``max(high-low, |high-prev_close|, |low-prev_close|)``;
* ``atr = tr`` at the first row, else ``atr + (tr - atr)/n`` in the
  algebraically identical form ``(1-1/n)*atr + (1/n)*tr``.

Input is bar-shaped (``high``/``low``/``close``) or tick-shaped
(``price`` only — high and low collapse to the price, so the true
range degrades to ``|p - prev_p|``, the tick-to-tick range).

Parity: stream == ``online_atr_batch`` is bit-exact (one scan, pinned
in tests/test_streaming.py); the batch twin tracks the blocked-EWM
``atr(method="wilder")`` to ~1e-12 relative (same recurrence, block-
parallel FP association).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from marketdatapipeline_spark.streaming.online import OnlineOperator, doubles, state_vector

__all__ = ["online_atr", "online_atr_batch"]

ATR_STATE_SCHEMA, _FRESH = state_vector(n_rows=0, last_close=float("nan"), atr=0.0)


def _scan_hlc(highs, lows, closes, st: tuple, alpha: float):
    """THE recurrence, shared verbatim by the streaming handler and the
    batch twin so their parity is structural. Returns one (tr, atr)
    pair per row plus the advanced state vector."""
    n_rows, last_close, atr = st
    out = []
    for h, l, c in zip(highs, lows, closes):
        h, l, c = float(h), float(l), float(c)
        hl = h - l
        if n_rows > 0:
            tr = max(hl, abs(h - last_close), abs(l - last_close))
            atr = (1.0 - alpha) * atr + alpha * tr
        else:
            tr = hl
            atr = tr
        out.append((tr, atr))
        last_close = c
        n_rows += 1
    return out, (n_rows, last_close, atr)


def _hlc(pdf: pd.DataFrame):
    """(highs, lows, closes) from a bar- or tick-shaped frame."""
    if "close" in pdf:
        c = pdf["close"]
        return pdf.get("high", c), pdf.get("low", c), c
    p = pdf["price"]
    return p, p, p


_OP = OnlineOperator(
    lambda pdf, st, alpha: _scan_hlc(*_hlc(pdf), st, alpha),
    ATR_STATE_SCHEMA,
    _FRESH,
    out_fields=doubles("tr", "atr"),
    carry=doubles("close"),
)


def online_atr(
    ticks: DataFrame,
    window: int = 14,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous Wilder ATR over a stream of per-symbol bars or ticks.

    One groupBy(symbol) shuffle; the state store pins each symbol's
    scan to one task per micro-batch. ``state_ttl`` evicts quiet
    symbols' 3-field state (same semantics as online_indicators)."""
    if "close" not in ticks.columns:
        ticks = ticks.withColumn("close", ticks["price"])
    return _OP.stream(ticks, 1.0 / window, state_ttl=state_ttl)


def online_atr_batch(
    bars: DataFrame,
    window: int = 14,
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
) -> DataFrame:
    """Batch twin of ``online_atr``: the identical ``_scan_hlc``
    recurrence run from fresh state over each symbol's full in-order
    history via plain ``applyInPandas``. Adds ``tr`` and ``atr`` to
    the input columns."""
    return _OP.batch(bars, 1.0 / window, order_cols=order_cols)
