"""Single-pass online tick analytics: RSI/MACD AND anchored VWAP from
ONE stateful operator, so the ingestion composition reads and shuffles
every tick exactly once.

``start_ingestion`` originally ran two independent streaming queries
over the same tick directory (one per leg), which read and parsed each
dropped file twice (VERDICT r7 #2). This operator fuses the two scans
— the IDENTICAL ``_scan_closes`` recurrence from streaming/stateful.py
and ``_scan_vwap`` from streaming/vwap.py, called verbatim so the
per-leg parity pins (stream == batch twin == oracle) transfer
structurally — behind one combined 14-field state vector per symbol
(11 indicator fields + 3 VWAP fields). One groupBy(symbol) shuffle, one
state store, one sorted pass and one output frame per pandas frame.

Output is the wide union of both legs' rows (one row per tick); the
pipeline's ``foreachBatch`` sink projects the two narrow sink schemas
back out, so everything downstream of ``<out>/indicators`` and
``<out>/vwap`` is byte-compatible with the two-query layout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from marketdatapipeline_spark.streaming.online import OnlineOperator, doubles
from marketdatapipeline_spark.streaming.stateful import (
    STATE_SCHEMA,
    _FRESH_STATE,
    _coeffs,
    _scan_closes,
)
from marketdatapipeline_spark.streaming.vwap import (
    VWAP_STATE_SCHEMA,
    _FRESH,
    _check_anchor,
    _vwap_columns,
)

__all__ = ["online_ticks", "TICKS_OUTPUT_SCHEMA"]

_N_IND = len(STATE_SCHEMA.fields)
_IND = ("rsi", "macd", "macd_signal", "macd_histogram")


def _scan_ticks(pdf: pd.DataFrame, st: tuple, coeffs: tuple, anchor: str):
    """Both legs' scans over one sorted frame, each on its own slice of
    the combined state vector."""
    vals, ind_st = _scan_closes(pdf["price"], st[:_N_IND], coeffs)
    cols, vwap_st = _vwap_columns(pdf, st[_N_IND:], anchor)
    cols.update(zip(_IND, np.array(vals, dtype=float).T))
    return cols, ind_st + vwap_st


#: combined state: the indicator vector then the VWAP vector, in their
#: home modules' field orders — a pure concatenation, so either leg's
#: scan function slices its own fields untouched.
COMBINED_STATE_SCHEMA = StructType(
    list(STATE_SCHEMA.fields) + list(VWAP_STATE_SCHEMA.fields)
)

_OP = OnlineOperator(
    _scan_ticks,
    COMBINED_STATE_SCHEMA,
    _FRESH_STATE + _FRESH,
    out_fields=doubles(*_IND, "vwap", "vwap_dev"),
    carry=doubles("price", "size"),
)

TICKS_OUTPUT_SCHEMA = _OP.output_schema


def online_ticks(
    ticks: DataFrame,
    anchor: str = "day",
    rsi_period: int = 14,
    macd_fast: int = 12,
    macd_slow: int = 26,
    macd_signal: int = 9,
    state_ttl: str | int | None = None,
) -> DataFrame:
    """Continuous RSI/MACD + anchored VWAP over one tick stream
    (``symbol, ts, price, size``), one output row per tick. One
    shuffle, one state store; ``state_ttl`` evicts quiet symbols
    exactly as in the per-leg operators."""
    _check_anchor(anchor)
    coeffs = _coeffs(rsi_period, macd_fast, macd_slow, macd_signal)
    return _OP.stream(ticks, coeffs, anchor, state_ttl=state_ttl)
