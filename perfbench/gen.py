"""Seeded input generator for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical frames, so two runs (or two commits)
measure the same inputs. Nothing here touches Spark; the workloads hand
these frames to the program through its public entry points.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _walk(rng: np.random.Generator, n: int, start: float, vol: float) -> np.ndarray:
    """Geometric random walk, rounded to cents so prices are exact in
    any engine's decimal-to-double reading."""
    steps = rng.normal(0.0, vol, n)
    return np.round(start * np.exp(np.cumsum(steps)), 2)


def events(seed: int, n_rows: int) -> pd.DataFrame:
    """A frame in the ``events`` table schema. ``ts`` strictly
    increases with ``event_id`` (so every bar derived from it has a
    unique time in its symbol) and is written as nanoseconds, the
    precision the program's fixture reader converts from. The 100
    ``user_id`` values each take an equal share of the rows, so every
    seed gives the fixture reader's ``user_id % 10`` symbols the same
    sizes."""
    rng = np.random.default_rng([seed, 2])
    gaps_us = rng.integers(1, 2_000_000, n_rows)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us)
    value = np.round(rng.uniform(1.0, 200.0, n_rows), 2)
    return pd.DataFrame(
        {
            "event_id": np.arange(n_rows, dtype=np.int64),
            "ts": ts.astype("datetime64[ns]"),
            "user_id": rng.permutation(np.arange(n_rows, dtype=np.int64) % 100),
            "event_type": rng.choice(
                np.array(["view", "click", "purchase", "signup", "error"]),
                n_rows,
            ),
            "value": value,
            "props": pd.Series(rng.integers(0, 100, n_rows)).map(
                lambda k: f'{{"k": {k}}}'
            ),
        }
    )


TICK_START = np.datetime64("2024-03-01T14:30:00", "us")


def tick_file(
    seed: int, index: int, n_ticks: int, n_symbols: int,
    last_price: np.ndarray, start_us: int, span_us: int,
) -> pd.DataFrame:
    """The ticks of file ``index``: ``n_ticks`` rows over ``n_symbols``
    symbols, timestamps in microseconds inside
    ``[start_us, start_us + span_us)`` after ``TICK_START``, unique
    within each symbol. ``last_price`` carries each symbol's walk from
    the previous file and is updated in place, so files must be
    generated in index order."""
    rng = np.random.default_rng([seed, 3, index])
    sym = rng.integers(0, n_symbols, n_ticks)
    # distinct offsets inside the span keep (symbol, ts) unique
    offs = np.sort(rng.choice(span_us, n_ticks, replace=False))
    price = np.empty(n_ticks)
    for s in range(n_symbols):
        m = sym == s
        k = int(m.sum())
        if k:
            walk = _walk(rng, k, float(last_price[s]), 0.0005)
            price[m] = walk
            last_price[s] = walk[-1]
    return pd.DataFrame(
        {
            "symbol": np.char.add("T", sym.astype("U3")),
            "ts": TICK_START + start_us + offs,
            "price": price,
            "size": rng.integers(1, 1000, n_ticks).astype("float64"),
        }
    )


def tick_start_prices(seed: int, n_symbols: int) -> np.ndarray:
    return np.round(np.random.default_rng([seed, 4]).uniform(20, 500, n_symbols), 2)
