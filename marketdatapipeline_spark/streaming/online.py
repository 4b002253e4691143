"""One declaration per online operator, run as a stream or as a batch.

Each online operator here is a per-symbol recurrence with explicit
state, the operator model of Structured Streaming (Armbrust et al.,
SIGMOD 2018). ``OnlineOperator`` takes the recurrence as
``scan(pdf, state, *params) -> (columns, state)`` over one symbol's
sorted rows, with its state schema, zero-history state and output
fields, and builds both executions from it:

* ``stream``: ``groupBy("symbol").applyInPandasWithState``. A timed-out
  key is evicted; otherwise each pandas frame is sorted by ``ts`` and
  scanned from the stored (or fresh) state into one columnar output
  frame, then the state is stored and its TTL re-armed;
* ``batch``: the ``applyInPandas`` twin. It sorts each symbol's whole
  history by ``order_cols``, scans it from the fresh state and appends
  the output columns to the input.

Both run the same scan and build their output frames the same way, so
stream == batch on an in-order feed holds by construction. ``columns``
is a list of per-row tuples or a dict of name -> column. NaN and None
both reach Spark as NULL (pyspark masks ``isnull()`` when it converts
an output column).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = ["OnlineOperator", "doubles", "state_vector"]

_MS = dict(millisecond=1, second=1_000, minute=60_000, hour=3_600_000, day=86_400_000)
_STATE_TYPES = {int: LongType(), float: DoubleType(), list: ArrayType(DoubleType())}


def _ttl_ms(ttl: str | int) -> int:
    """'30 minutes' / '1 hour' / raw ms int -> positive milliseconds
    (pyspark's GroupState.setTimeoutDuration takes only a positive int)."""
    try:
        if isinstance(ttl, int):
            ms = ttl
        else:
            n, unit = ttl.strip().split()
            ms = int(n) * _MS[unit.lower().rstrip("s")]
    except (AttributeError, ValueError, KeyError) as e:
        raise ValueError(
            f"unparseable state_ttl {ttl!r}: expected '<int> "
            "milliseconds|seconds|minutes|hours|days' or raw ms int"
        ) from e
    if ms <= 0:
        raise ValueError(f"state_ttl must be positive, got {ttl!r}")
    return ms


def doubles(*names: str) -> tuple[StructField, ...]:
    return tuple(StructField(n, DoubleType()) for n in names)


def state_vector(**fresh: Any) -> tuple[StructType, tuple]:
    """A state schema and its zero-history value from one ``field=value``
    list, in field order: int -> bigint, float -> double, list ->
    array<double>."""
    fields = [StructField(k, _STATE_TYPES[type(v)]) for k, v in fresh.items()]
    return StructType(fields), tuple(fresh.values())


@dataclass(frozen=True)
class OnlineOperator:
    """A per-symbol recurrence and its state, declared once. ``carry``
    lists the input columns the stream emits between ``symbol, ts`` and
    ``out_fields``; the batch twin keeps every input column instead."""

    scan: Callable[..., tuple[Any, tuple]]
    state_schema: StructType
    fresh: tuple
    out_fields: tuple[StructField, ...]
    carry: tuple[StructField, ...] = ()

    @property
    def output_schema(self) -> StructType:
        key = [StructField("symbol", StringType()), StructField("ts", TimestampType())]
        return StructType(key + [*self.carry, *self.out_fields])

    def _advance(self, pdf: pd.DataFrame, st: tuple, params: tuple, order, keep):
        """Sort, scan, and build the output frame in one constructor call:
        the ``keep`` input columns, then the output fields."""
        pdf = pdf.sort_values(order, ignore_index=True)
        cols, st = self.scan(pdf, st, *params)
        names = [f.name for f in self.out_fields]
        if not isinstance(cols, dict):  # per-row tuples
            cols = dict(zip(names, zip(*cols)))
        out = {c: pdf[c].to_numpy() for c in keep}
        out.update((c, cols[c]) for c in names)
        return pd.DataFrame(out), st

    def handler(self, params: tuple, state_ttl: str | int | None = None):
        """The ``applyInPandasWithState`` function. ``state_ttl`` is
        checked here, when the query is built, not in the first batch."""
        ttl_ms = None if state_ttl is None else _ttl_ms(state_ttl)
        keep = ["symbol", "ts", *(f.name for f in self.carry)]

        def func(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any):
            if state.hasTimedOut:
                # symbol went quiet past the TTL: evict its state row.
                # If it later resumes, it restarts from fresh state
                # (same convention as a new symbol appearing).
                state.remove()
                return
            st = tuple(state.get) if state.exists else self.fresh
            for pdf in pdfs:
                if not pdf.empty:
                    out, st = self._advance(pdf, st, params, "ts", keep)
                    yield out
            state.update(st)
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)

        return func

    def stream(
        self, ticks: DataFrame, *params, state_ttl: str | int | None = None
    ) -> DataFrame:
        """Append mode, one output row per input row. ``state_ttl``
        evicts a symbol's state after that long (processing time)
        without rows; ``None`` keeps it."""
        return ticks.groupBy("symbol").applyInPandasWithState(
            self.handler(params, state_ttl),
            outputStructType=self.output_schema,
            stateStructType=self.state_schema,
            outputMode="append",
            timeoutConf="NoTimeout" if state_ttl is None else "ProcessingTimeTimeout",
        )

    def batch(
        self, df: DataFrame, *params, order_cols: tuple[str, ...] = ("ts",)
    ) -> DataFrame:
        """The scan from fresh state over each symbol's whole history."""
        order = list(order_cols)

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            return self._advance(pdf, self.fresh, params, order, pdf.columns)[0]

        schema = StructType(list(df.schema.fields) + list(self.out_fields))
        return df.groupBy("symbol").applyInPandas(run, schema=schema)
