"""The benchmark workloads.

Each workload makes its inputs from the seed (``gen``), hands them to
the program only through its public entry points, times units of work,
and checks the outputs outside the timed region. The runner in
``run.py`` owns sessions, passes and the printed record.

A workload implements:

* ``stage(spark)``: input staging, repeated once per set-up;
* ``measure(spark, tracer, seconds, min_units)``: the timed region,
  returning a ``Measured`` (the first unit is the cold one);
* ``check(spark)``: output checks, a list of failure strings;
* ``layers(tracer, log, measured)``: per-layer metrics of a traced pass;
* ``teardown()``: release what ``stage`` made.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import tracing

#: workloads measure at least this many units per pass (5 gave no
#: steadier medians between runs on a 4-core host than 3)
MIN_UNITS = 3
#: cells match within this after 6-decimal rounding, so a value on a
#: rounding boundary in one engine still matches the other's
ORACLE_TOL = 1.01e-6


@dataclass
class Measured:
    cold_s: float
    unit_s: list[float]  # measured units (for the stream: per-file latency)
    rows_per_s: float  # see each workload's ``measure``
    attempted: int
    failed: int
    late_s: float = 0.0  # how far the load generator ran behind


def write_parquet(pdf: pd.DataFrame, path: str, ts_cols=()) -> None:
    """Write ``pdf``; ``ts_cols`` become UTC-adjusted timestamps, which
    Spark reads as ``TIMESTAMP`` under any inference setting."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    for c in ts_cols:
        i = table.schema.get_field_index(c)
        table = table.set_column(
            i, c, table.column(c).cast(pa.timestamp("us", tz="UTC"))
        )
    pq.write_table(table, path)


def timed_units(run_unit, seconds: float, warmup: int = 0, min_units: int = MIN_UNITS,
                prepare=None):
    """A cold unit, ``warmup`` unmeasured units, then measured units
    until ``seconds`` of measured time have passed and at least
    ``min_units`` ran. ``prepare(i)``, if given, runs before unit ``i``
    outside its timing. A unit that raises counts as failed. Returns the
    cold time, the measured times, and the units attempted and failed."""
    times, failed = [], 0

    def one(i) -> None:
        nonlocal failed
        if prepare is not None:
            prepare(i)
        t0 = time.perf_counter()
        try:
            run_unit(i)
        except Exception as e:  # noqa: BLE001 — a failed unit is a result
            failed += 1
            print(f"perfbench: unit {i} failed: {e!r}", flush=True)
        times.append(time.perf_counter() - t0)

    for i in range(1 + warmup):
        one(i)
    while len(times) - 1 - warmup < min_units or sum(times[1 + warmup:]) < seconds:
        one(len(times))
    return times[0], times[1 + warmup:], len(times), failed


def median_or_zero(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def in_unit(u: int, names=None):
    """Record filter: jobs and stages launched inside unit ``u`` (and,
    if given, inside one of the spans ``names``)."""

    def keep(rec):
        p = tracing.parse_group(rec.group)
        return p is not None and p[0] == u and (names is None or p[1] in names)

    return keep


def unit_engine(log, tracer, units) -> list[dict]:
    """Per-unit Spark-engine totals over the unit's job groups."""
    out = []
    for u in units:
        keep = in_unit(u)
        row = tracing.engine_totals(log, keep)
        wall = sum(s.seconds for s in tracer.unit_spans(u) if s.parent is None)
        row["driver_gap_s"] = wall - tracing.union_seconds(tracing.job_intervals(log, keep))
        out.append(row)
    return out


def kernel_layer(log, units) -> dict[str, float]:
    """The feature kernel's stages, wherever in a unit they ran (on
    ``train_eval`` they run lazily under the prepare span)."""
    rows = []
    for u in units:
        st = tracing.kernel_stages(log, in_unit(u))
        rows.append(
            {
                "features.kernel_task_s": sum(s.run_ms for s in st) / 1e3,
                "features.python_s": sum(s.python_ms for s in st) / 1e3,
                "features.kernel_tasks": sum(s.tasks for s in st),
                # bytes of the exchange feeding the kernel, as read
                "features.exchange_bytes": sum(s.shuffle_read for s in st),
            }
        )
    return median_fields(rows)


def traced_units(tracer, warmup: int = 0) -> list[int]:
    """Measured units of a traced pass (unit 0 is the cold one, the
    next ``warmup`` warm the process up)."""
    return sorted({s.unit for s in tracer.spans if s.unit > warmup})


def span_seconds(tracer, u: int, name: str) -> float:
    return sum(s.seconds for s in tracer.unit_spans(u) if s.name == name)


def span_jobs(log, u: int, name: str) -> int:
    return sum(1 for j in log.jobs.values() if in_unit(u, (name,))(j))


def median_fields(rows: list[dict]) -> dict[str, float]:
    keys = rows[0].keys() if rows else ()
    return {k: median_or_zero(r[k] for r in rows if k in r) for k in keys}


def spark_layer(rows: list[dict]) -> dict[str, float]:
    return {f"spark.{k}": v for k, v in median_fields(rows).items()}


# ------------------------------------------------------------ output checks


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, keys, cols) -> list[str]:
    """Row-set and value comparison at 6-decimal precision."""
    if len(got) != len(want):
        return [f"oracle rows: got {len(got)}, want {len(want)}"]
    m = got.merge(want, on=keys, how="outer", suffixes=("_g", "_w"), indicator=True)
    unmatched = int((m["_merge"] != "both").sum())
    if unmatched:
        return [f"oracle keys: {unmatched} rows unmatched"]
    fails = []
    for c in cols:
        g = m[f"{c}_g"].astype("float64").round(6).to_numpy()
        w = m[f"{c}_w"].astype("float64").to_numpy()
        both_null = np.isnan(g) & np.isnan(w)
        bad = ~both_null & ~(np.abs(g - w) <= ORACLE_TOL)
        if bad.any():
            i = int(np.argmax(bad))
            fails.append(f"{c}: {int(bad.sum())} cells differ, first {g[i]!r} vs {w[i]!r}")
    return fails


# ------------------------------------------------------------ train_eval

#: rows ``prepare_dataset`` keeps per symbol: the longest warm-up
#: (volatility_60 over returns, whose first value is null) blanks the
#: first 60 rows, and the one-step target drops the last row
FEATURE_WARMUP_ROWS = 60
TARGET_HORIZON_ROWS = 1
#: the fixture reader buckets ``user_id % 10`` into symbols "0".."9"
FIXTURE_BUCKETS = 10


class TrainEvalWorkload:
    """A generated ``events.parquet`` through ``run_pipeline``: ingest,
    features, split, fit, score. One unit is one ``run_pipeline``
    call."""

    name = "train_eval"
    #: on 4 cores the calls after the cold one keep getting faster for a
    #: few calls (JIT); a third measured call or an unmeasured warm-up
    #: call (about 9 s each) would not fit the run budget
    warmup = 0
    min_units = 2

    def __init__(self, events: pd.DataFrame, n_symbols: int, work: str):
        self.events = events
        self.symbols = tuple(str(s) for s in range(n_symbols))
        buckets = events["user_id"] % FIXTURE_BUCKETS
        self.per_symbol = [int((buckets == s).sum()) for s in range(n_symbols)]
        self.rows = sum(self.per_symbol)
        self.expected_rows = sum(
            max(0, n - FEATURE_WARMUP_ROWS - TARGET_HORIZON_ROWS)
            for n in self.per_symbol
        )
        self.work = work
        self.fixtures = None
        self.summaries: list[dict] = []
        self.bytes_written: list[int] = []
        self._setups = 0

    def stage(self, spark) -> None:
        self._setups += 1
        self.fixtures = os.path.join(self.work, f"fixtures{self._setups}")
        os.makedirs(self.fixtures)
        # nanosecond timestamps, read through the program's fixture path
        self.events.to_parquet(
            os.path.join(self.fixtures, "events.parquet"), index=False
        )

    def teardown(self) -> None:
        pass

    def trace_calls(self, tracer) -> None:
        """Spans around the public functions ``run_pipeline`` calls."""
        import marketdatapipeline_spark.features as features
        import marketdatapipeline_spark.ingestion as ingestion
        import marketdatapipeline_spark.ml.evaluation as evaluation
        import marketdatapipeline_spark.ml.prediction as prediction
        import marketdatapipeline_spark.ml.preparation as preparation
        import marketdatapipeline_spark.ml.training as training

        tracer.wrap(ingestion, "fetch_multiple_symbols", "ingestion")
        tracer.wrap(features, "compute_all_features", "features")
        tracer.wrap(features, "generate_targets", "features")
        tracer.wrap(preparation, "prepare_dataset", "ml.prepare")
        tracer.wrap(training, "train_model", "ml.train")
        tracer.wrap(prediction, "predict", "ml.score")
        for fn in ("classification_metrics", "roc_auc", "plot_feature_importance"):
            tracer.wrap(evaluation, fn, "ml.score")

    def measure(self, spark, tracer, seconds: float, min_units: int) -> Measured:
        from marketdatapipeline_spark.main import run_pipeline

        self.summaries, self.bytes_written = [], []
        self.trace_calls(tracer)

        def unit(i):
            work_dir = os.path.join(self.work, f"unit{self._setups}_{i}")
            try:
                with tracer.unit_scope(i, "main"):
                    summary = run_pipeline(
                        spark,
                        fixtures_dir=self.fixtures,
                        symbols=self.symbols,
                        work_dir=work_dir,
                    )
                self.summaries.append(summary)
                self.bytes_written.append(
                    sum(
                        os.path.getsize(f)
                        for f in glob.glob(os.path.join(work_dir, "data", "**"), recursive=True)
                        if os.path.isfile(f)
                    )
                )
            finally:
                shutil.rmtree(work_dir, ignore_errors=True)

        try:
            cold, warm, attempted, failed = timed_units(
                unit, seconds, self.warmup, min_units
            )
        finally:
            tracer.restore()
        # input rows over the median call: latency_p50_s restated as a
        # rate, printed because every workload prints every metric
        return Measured(cold, warm, self.rows / median_or_zero(warm), attempted, failed)

    def check(self, spark) -> list[str]:
        fails = []
        for i, s in enumerate(self.summaries):
            if s["n_train"] + s["n_test"] != self.expected_rows:
                fails.append(
                    f"unit {i}: n_train + n_test = {s['n_train'] + s['n_test']}, "
                    f"want {self.expected_rows}"
                )
            m = s["metrics"]
            cm = m["tp"] + m["fp"] + m["fn"] + m["tn"]
            if cm != s["n_test"]:
                fails.append(f"unit {i}: confusion counts sum to {cm}, n_test {s['n_test']}")
        return fails

    def layers(self, tracer, log, measured: Measured) -> dict[str, float]:
        units = traced_units(tracer, self.warmup)

        def med(fn):
            return median_or_zero(fn(u) for u in units)

        def gap(u):
            # run_pipeline's wall minus the layer spans directly inside it
            inner = sum(s.seconds for s in tracer.unit_spans(u) if s.parent == "main")
            return span_seconds(tracer, u, "main") - inner

        return {
            "ingestion.fetch_s": med(lambda u: span_seconds(tracer, u, "ingestion")),
            "ingestion.jobs": med(lambda u: span_jobs(log, u, "ingestion")),
            "ingestion.bytes_written": median_or_zero(self.bytes_written[1 + self.warmup:]),
            "features.plan_s": med(lambda u: span_seconds(tracer, u, "features")),
            "features.jobs": med(lambda u: span_jobs(log, u, "features")),
            **kernel_layer(log, units),
            "ml.prepare_s": med(lambda u: span_seconds(tracer, u, "ml.prepare")),
            "ml.prepare_jobs": med(lambda u: span_jobs(log, u, "ml.prepare")),
            "ml.train_s": med(lambda u: span_seconds(tracer, u, "ml.train")),
            "ml.score_s": med(lambda u: span_seconds(tracer, u, "ml.score")),
            "ml.score_jobs": med(lambda u: span_jobs(log, u, "ml.score")),
            "main.gap_s": med(gap),
            **spark_layer(unit_engine(log, tracer, units)),
        }


# ---------------------------------------------------------- stream_ticks


class StreamTicksWorkload:
    """``start_ingestion(tick_dir=...)``, measured two ways.

    Latency: an open-loop generator thread drops one tick file every
    ``period`` seconds. A file's latency runs from when it was due to
    the commit of the micro-batch that read it. File 0 is the cold
    unit; the next ``warmup_s`` seconds of drops warm the query up and
    are not measured. The measured window is the next ``seconds`` of
    drops (the argument of ``measure``, at most ``max_window_s``).

    Capacity: with the query idle, one file of ``backlog`` ticks is
    dropped and ``processAllAvailable`` waits for its commit. The rate
    is the backlog over the median drain time: a closed loop, so it
    reads how fast the query works, not how fast ticks are offered.
    The backlog is one file because files linked one by one can split
    across two micro-batches."""

    name = "stream_ticks"
    min_units = MIN_UNITS

    def __init__(self, seed: int, rate: int, period: float, n_symbols: int,
                 max_window_s: float, warmup_s: float, backlog: int, work: str):
        self.seed, self.n_symbols, self.rate = seed, n_symbols, rate
        self.period, self.backlog = period, backlog
        self.n_warm = int(round(warmup_s / period))
        self.src = os.path.join(work, "ticks")
        os.makedirs(self.src)
        self._last = gen.tick_start_prices(seed, n_symbols)
        self._next_us = 0
        self.file_rows: list[int] = []
        self.n_paced = 1 + self.n_warm + int(round(max_window_s / period))
        for i in range(self.n_paced):
            self._make_file(i, int(round(rate * period)), period)
        self.sample = [f"T{s}" for s in np.random.default_rng([seed, 6]).choice(
            n_symbols, 3, replace=False)]
        self.work = work
        self.pipe = None
        self._setups = 0
        self.progress: list[dict] = []
        self.drops: dict[int, tuple[float, float]] = {}  # paced file -> (due, dropped)
        self.drained: list[int] = []
        self.window = (0.0, 0.0)

    def _src(self, i: int) -> str:
        return os.path.join(self.src, f"t{i:05d}.parquet")

    def _make_file(self, i: int, n_ticks: int, span_s: float) -> None:
        """Write file ``i``; files are made in index order, each after
        the previous one in tick time."""
        span_us = int(round(span_s * 1e6))
        pdf = gen.tick_file(self.seed, i, n_ticks, self.n_symbols, self._last,
                            self._next_us, span_us)
        self._next_us += span_us
        write_parquet(pdf, self._src(i), ts_cols=("ts",))
        self.file_rows.append(len(pdf))

    def stage(self, spark) -> None:
        from marketdatapipeline_spark.streaming.pipeline import start_ingestion

        self._setups += 1
        run_dir = os.path.join(self.work, f"run{self._setups}")
        self.tick_dir = os.path.join(run_dir, "in")
        self.out_dir = os.path.join(run_dir, "out")
        os.makedirs(self.tick_dir)
        self.pipe = start_ingestion(spark, self.out_dir, tick_dir=self.tick_dir)

    def teardown(self) -> None:
        if self.pipe is not None:
            self.pipe.stop()
            self.pipe = None

    def _link(self, i: int) -> None:
        # a hard link appears complete, so the source never lists a
        # half-written file
        os.link(self._src(i), os.path.join(self.tick_dir, os.path.basename(self._src(i))))

    def _drop(self, i: int, due: float) -> None:
        self._link(i)
        self.drops[i] = (due, time.time())

    def _commits(self) -> dict[int, float]:
        """File -> commit time of the micro-batch that read it, from the
        query's checkpoint: the file-source log (plain and compacted
        files, one JSON entry per input file with its batch id) and the
        mtime of the batch's commit-log file."""
        chk = os.path.join(self.out_dir, "_chk", "ticks")
        out = {}
        for f in glob.glob(os.path.join(chk, "sources", "0", "*")):
            with open(f, encoding="utf-8") as fh:
                for line in fh.read().splitlines()[1:]:
                    entry = json.loads(line)
                    commit = os.path.join(chk, "commits", str(entry["batchId"]))
                    if os.path.exists(commit):
                        name = os.path.basename(entry["path"])
                        out[int(name[1:6])] = os.path.getmtime(commit)
        return out

    def _paced(self, per_window: int) -> tuple[int, int]:
        """Drop the paced files on schedule; returns the measured
        window's first and last-plus-one file."""
        self._drop(0, time.time())
        self.pipe.process_all()
        start = time.time() + 0.05
        first = 1 + self.n_warm

        def drop_until(end: int) -> None:
            for i in range(len(self.drops), end):
                due = start + (i - 1) * self.period
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                self._drop(i, due)

        t = threading.Thread(target=drop_until, args=(first + per_window,),
                             name="perfbench-loadgen")
        t.start()
        t.join()
        self.pipe.process_all()
        return first, first + per_window

    def measure(self, spark, tracer, seconds: float, min_units: int) -> Measured:
        self.drops, self.drained = {}, []
        q = self.pipe.queries[0]
        with tracer.span("stream"):
            first, last = self._paced(int(round(seconds / self.period)))
        commits = self._commits()
        lat = {i: commits[i] - due for i, (due, _) in self.drops.items() if i in commits}
        measured = [lat[i] for i in range(first, last) if i in lat]
        t0 = self.drops[first][0]
        self.window = (t0, max(commits[i] for i in range(first, last) if i in commits))
        # micro-batches that started after the first measured drop
        self.progress = [
            p for p in q.recentProgress
            if p["numInputRows"] > 0 and _epoch(p["timestamp"]) >= t0
        ]

        def prepare(k: int) -> None:
            if self.n_paced + k == len(self.file_rows):
                self._make_file(self.n_paced + k, self.backlog, self.backlog / self.rate)

        def drain(k: int) -> None:
            self._link(self.n_paced + k)
            self.drained.append(self.n_paced + k)
            self.pipe.process_all()

        with tracer.span("drain"):
            # the first two drains still speed up (JIT), so neither is measured
            _, drains, attempted, failed = timed_units(
                drain, 0.0, 1, min_units, prepare=prepare
            )
        return Measured(
            lat.get(0, 0.0), measured, self.backlog / median_or_zero(drains),
            attempted=len(self.drops) + attempted,
            failed=len(self.drops) - len(lat) + failed,
            late_s=max(dropped - due for due, dropped in self.drops.values()),
        )

    def check(self, spark) -> list[str]:
        from pyspark.sql import functions as F

        from marketdatapipeline_spark.streaming.stateful import online_indicators_batch

        fails = []
        dropped = sum(self.file_rows[i] for i in [*self.drops, *self.drained])
        for sink in ("indicators", "vwap"):
            n = spark.read.parquet(os.path.join(self.out_dir, sink)).count()
            if n != dropped:
                fails.append(f"{sink} sink rows: got {n}, want {dropped}")
        ticks = spark.read.parquet(self.tick_dir).filter(F.col("symbol").isin(self.sample))
        cols = ["rsi", "macd", "macd_signal", "macd_histogram"]
        want = (
            online_indicators_batch(
                ticks.select("symbol", "ts", F.col("price").alias("close")),
                order_cols=("ts",),
            )
            .select("symbol", F.unix_micros("ts").alias("t"),
                    *[F.round(c, 6).alias(c) for c in cols])
            .toPandas()
        )
        got = (
            spark.read.parquet(os.path.join(self.out_dir, "indicators"))
            .filter(F.col("symbol").isin(self.sample))
            .select("symbol", F.unix_micros("ts").alias("t"), *cols)
            .toPandas()
        )
        return fails + compare_frames(got, want, ["symbol", "t"], cols)

    def layers(self, tracer, log, measured: Measured) -> dict[str, float]:
        prog = self.progress

        def p50(fn):
            return median_or_zero(fn(p["durationMs"]) for p in prog) / 1e3

        state = prog[-1].get("stateOperators", [{}])[0] if prog else {}
        t0, t1 = self.window

        def keep(rec):
            return t0 <= rec.start_ms / 1e3 <= t1

        eng = tracing.engine_totals(log, keep)
        eng["driver_gap_s"] = (t1 - t0) - tracing.union_seconds(tracing.job_intervals(log, keep))
        return {
            "streaming.batch_s_p50": p50(lambda d: d["triggerExecution"]),
            "streaming.add_batch_s_p50": p50(lambda d: d["addBatch"]),
            "streaming.source_s_p50": p50(lambda d: d.get("getBatch", 0) + d.get("latestOffset", 0)),
            "streaming.commit_s_p50": p50(lambda d: d.get("walCommit", 0) + d.get("commitOffsets", 0)),
            "streaming.rows_per_batch": median_or_zero(p["numInputRows"] for p in prog),
            "streaming.state_rows": float(state.get("numRowsTotal", 0)),
            "streaming.state_bytes": float(state.get("memoryUsedBytes", 0)),
            "loadgen.late_s": measured.late_s,
            **{f"spark.{k}": float(v) for k, v in eng.items()},
        }


def _epoch(iso: str) -> float:
    """Epoch seconds of a streaming-progress timestamp (UTC, ``Z``)."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
