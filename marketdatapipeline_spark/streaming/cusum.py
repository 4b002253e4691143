"""Online CUSUM filter — event-driven sampling for ML pipelines.

The symmetric CUSUM filter (Lopez de Prado, *Advances in Financial
Machine Learning* ch. 2.5.2.1) samples bars only when cumulative
drift exceeds a threshold — the event times that feed triple-barrier
labeling (ml/labeling.py), replacing fixed-interval sampling with
information-driven sampling:

``s_pos = max(0, s_pos + ret)``; ``s_neg = min(0, s_neg + ret)``;
when ``s_pos > h`` -> +1 event, reset ``s_pos``;
when ``s_neg < -h`` -> -1 event, reset ``s_neg``.

The reset makes this a NON-linear recurrence — unlike EWMA there is
no block-parallel decomposition and no SQL restatement, so the
operator lives in the streaming family (streaming/online.py):
per-symbol state (the two accumulators + last price) carried across
micro-batches, O(symbols) state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StructField

from marketdatapipeline_spark.streaming.online import OnlineOperator, doubles, state_vector

__all__ = ["online_cusum", "online_cusum_batch"]

CUSUM_STATE_SCHEMA, _FRESH = state_vector(
    n_rows=0, last_price=float("nan"), s_pos=0.0, s_neg=0.0
)


def _scan_cusum(prices, st: tuple, threshold: float):
    """THE recurrence, shared by the stream handler and the batch
    twin. Returns one (s_pos, s_neg, event) triple per row plus the
    advanced state. Returns use simple price returns; the first row
    of a symbol has no return and never fires."""
    n_rows, last, s_pos, s_neg = st
    out = []
    for p in prices:
        p = float(p)
        if n_rows > 0 and last != 0.0:
            ret = (p - last) / last
            s_pos = max(0.0, s_pos + ret)
            s_neg = min(0.0, s_neg + ret)
        event = 0
        if s_pos > threshold:
            event, s_pos = 1, 0.0
        elif s_neg < -threshold:
            event, s_neg = -1, 0.0
        out.append((s_pos, s_neg, event))
        last = p
        n_rows += 1
    return out, (n_rows, last, s_pos, s_neg)


_OP = OnlineOperator(
    lambda pdf, st, threshold, col: _scan_cusum(pdf[col], st, threshold),
    CUSUM_STATE_SCHEMA,
    _FRESH,
    out_fields=(*doubles("s_pos", "s_neg"), StructField("event", IntegerType())),
    carry=doubles("price"),
)


def online_cusum(
    ticks: DataFrame,
    threshold: float,
    state_ttl: str | None = None,
) -> DataFrame:
    """Continuous symmetric CUSUM filtering over a tick stream.
    ``event`` is +1/-1 on threshold crossings, 0 otherwise — filter
    on it downstream to get the sampled event times."""
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    return _OP.stream(ticks, float(threshold), "price", state_ttl=state_ttl)


def online_cusum_batch(
    df: DataFrame,
    threshold: float,
    price_col: str = "price",
    order_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Batch twin: identical ``_scan_cusum`` from fresh state over
    each symbol's in-order history; adds s_pos/s_neg/event."""
    return _OP.batch(df, float(threshold), price_col, order_cols=order_cols)
