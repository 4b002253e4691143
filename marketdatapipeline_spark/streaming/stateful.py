"""Online (incremental) technical indicators with explicit state.

Streaming counterpart of the batch EWM stage
(features/ewm.py:add_technical_ewm_features — itself the Spark
re-expression of reference src/features/engineering.py:36-57). Where
the batch path needs each symbol's full history in hand, this operator
carries an **11-field state vector per symbol** (9 doubles + 2 longs)
across micro-batches (streaming/online.py), so an unbounded tick feed
gets RSI/MACD continuously with O(symbols) state, not O(rows).

State per symbol (all recurrences are linear scans, so constant
per-row work):

* ``last_close`` — to compute the next delta across the batch boundary;
* Wilder gains/losses (``adjust=False``, span=rsi_period):
  ``y ← (1-a)·y + a·x``, seeded ``y = x`` at the first valid delta;
* MACD fast/slow and signal EMAs (``adjust=True``, pandas default):
  numerator/denominator pairs ``N ← x + r·N``, ``D ← 1 + r·D``,
  ``y = N/D`` — the normalized form, numerically stable (N, D are
  bounded by x_max/(1-r) and 1/(1-r)).

Batch parity: on an in-order feed this emits bit-identical values to
``add_technical_ewm_features`` (pinned by tests/test_streaming.py).
Rows inside a micro-batch are sorted by event time per symbol; ACROSS
batches the source must deliver per-symbol in-order data (true for a
file-drop feed of finalized bars, e.g. the output of ticks_to_bars) —
the EWMA recurrence is order-defined, so out-of-order input changes
the answer in ANY engine, including the reference's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from marketdatapipeline_spark.streaming.online import OnlineOperator, doubles, state_vector

#: per-symbol state as field=zero-history value; gain_seeded is 0/1,
#: whether the Wilder EWMAs are seeded yet
STATE_SCHEMA, _FRESH_STATE = state_vector(
    n_rows=0, last_close=float("nan"), gain_ewm=0.0, loss_ewm=0.0, gain_seeded=0,
    fast_n=0.0, fast_d=0.0, slow_n=0.0, slow_d=0.0, sig_n=0.0, sig_d=0.0,
)

_EPS = 1e-10  # reference's literal epsilon guard (engineering.py:45)


def _coeffs(
    rsi_period: int, macd_fast: int, macd_slow: int, macd_signal: int
) -> tuple[float, float, float, float]:
    return (
        2.0 / (rsi_period + 1.0),
        1.0 - 2.0 / (macd_fast + 1.0),
        1.0 - 2.0 / (macd_slow + 1.0),
        1.0 - 2.0 / (macd_signal + 1.0),
    )


def _scan_closes(closes, st: tuple, coeffs: tuple):
    """THE state-handler recurrence, shared verbatim by the streaming
    handler and the batch twin (``online_indicators_batch``) so their
    parity is structural, not coincidental. Returns one
    (rsi, macd, signal, histogram) tuple per close plus the advanced
    state vector."""
    a_rsi, r_fast, r_slow, r_sig = coeffs
    (
        n_rows,
        last_close,
        gain_ewm,
        loss_ewm,
        gain_seeded,
        fast_n,
        fast_d,
        slow_n,
        slow_d,
        sig_n,
        sig_d,
    ) = st
    out = []
    for close in closes:
        close = float(close)
        rsi = float("nan")
        if n_rows > 0:
            delta = close - last_close
            gain = delta if delta > 0 else 0.0
            loss = -delta if delta < 0 else 0.0
            if gain_seeded:
                gain_ewm = (1.0 - a_rsi) * gain_ewm + a_rsi * gain
                loss_ewm = (1.0 - a_rsi) * loss_ewm + a_rsi * loss
            else:
                gain_ewm, loss_ewm, gain_seeded = gain, loss, 1
            rs = gain_ewm / (loss_ewm + _EPS)
            rsi = 100.0 - (100.0 / (1.0 + rs))
        # adjust=True EMAs over close (never NaN)
        fast_n = close + r_fast * fast_n
        fast_d = 1.0 + r_fast * fast_d
        slow_n = close + r_slow * slow_n
        slow_d = 1.0 + r_slow * slow_d
        macd = fast_n / fast_d - slow_n / slow_d
        sig_n = macd + r_sig * sig_n
        sig_d = 1.0 + r_sig * sig_d
        signal = sig_n / sig_d
        out.append((rsi, macd, signal, macd - signal))
        last_close = close
        n_rows += 1
    return out, (
        n_rows,
        last_close,
        gain_ewm,
        loss_ewm,
        gain_seeded,
        fast_n,
        fast_d,
        slow_n,
        slow_d,
        sig_n,
        sig_d,
    )


_OP = OnlineOperator(
    lambda pdf, st, coeffs: _scan_closes(pdf["close"], st, coeffs),
    STATE_SCHEMA,
    _FRESH_STATE,
    out_fields=doubles("rsi", "macd", "macd_signal", "macd_histogram"),
    carry=doubles("close"),
)


def online_indicators(
    ticks: DataFrame,
    rsi_period: int = 14,
    macd_fast: int = 12,
    macd_slow: int = 26,
    macd_signal: int = 9,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous RSI/MACD over a stream of per-symbol prices.

    Input: streaming DataFrame with ``symbol, ts`` and ``price`` (tick
    shape) or ``close`` (bar shape). Output: one row per input row with
    the indicator columns, emitted in append mode. The groupBy(symbol)
    is the only shuffle; state-store partitioning then pins each
    symbol's scan to one task per micro-batch.

    ``state_ttl`` (e.g. ``"30 minutes"``) enables processing-time
    eviction: a symbol with no ticks for the TTL drops its state
    vector and restarts fresh if it resumes. State is 11 fields per
    symbol either way; the TTL matters when the SYMBOL SPACE itself
    churns (delisted tickers, session-scoped ids) — without it, a
    year of churn accumulates state for every symbol ever seen.
    """
    close = ticks["price" if "price" in ticks.columns else "close"]
    return _OP.stream(
        ticks.select("symbol", "ts", close.alias("close")),
        _coeffs(rsi_period, macd_fast, macd_slow, macd_signal),
        state_ttl=state_ttl,
    )


def online_indicators_batch(
    bars: DataFrame,
    rsi_period: int = 14,
    macd_fast: int = 12,
    macd_slow: int = 26,
    macd_signal: int = 9,
    order_cols: tuple[str, ...] = ("datetime", "bar_id"),
) -> DataFrame:
    """Batch twin of ``online_indicators``: the IDENTICAL state-handler
    recurrence (``_scan_closes``), run from fresh state over each
    symbol's full in-order history via plain ``applyInPandas``.

    This is the driver-gate surface for the stateful streaming path:
    pytest pins stream == batch-twin on the same feed (state carry
    across micro-batches exercised there), and the catalog entry
    ``streaming_indicators_batch_parity`` pins batch-twin == the
    recursive-CTE oracle — so the handler recurrence itself is
    oracle-checked by transitivity.

    Input: static DataFrame with ``symbol``, ``close`` and the
    ``order_cols`` (bar shape). Output keeps ``symbol`` + order_cols +
    close and adds rsi / macd / macd_signal / macd_histogram.
    """
    return _OP.batch(
        bars,
        _coeffs(rsi_period, macd_fast, macd_slow, macd_signal),
        order_cols=order_cols,
    )
