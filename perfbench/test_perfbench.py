"""Self-tests for the benchmark (not part of the program's suite).

Run from the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import numpy as np
import pandas as pd
import pytest

import gen
import run
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------ generator


def _ticks(seed: int) -> list[pd.DataFrame]:
    last = gen.tick_start_prices(seed, 5)
    return [gen.tick_file(seed, i, 200, 5, last, i * 500_000, 500_000) for i in range(3)]


def test_generator_is_deterministic():
    pd.testing.assert_frame_equal(gen.events(7, 2_000), gen.events(7, 2_000))
    for a, b in zip(_ticks(7), _ticks(7)):
        pd.testing.assert_frame_equal(a, b)
    assert not gen.events(7, 2_000).equals(gen.events(8, 2_000))
    assert not _ticks(7)[0].equals(_ticks(8)[0])


def test_generator_shapes():
    ev = gen.events(3, 5_000)
    assert ev["ts"].dtype == "datetime64[ns]" and ev["ts"].is_monotonic_increasing
    assert ev["ts"].is_unique
    assert (ev["user_id"] % 10).value_counts().nunique() == 1  # same sizes every seed
    ticks = _ticks(3)
    assert all(t.groupby("symbol")["ts"].apply(lambda s: s.is_unique).all() for t in ticks)
    assert ticks[0]["ts"].max() < ticks[1]["ts"].min()  # files in time order


def test_timed_units_counts_units_and_failures():
    def unit(i):
        if i == 2:
            raise ValueError("unit 2 fails")

    cold, measured, attempted, failed = workloads.timed_units(unit, 0.0, warmup=1, min_units=3)
    # cold, warm-up, then three measured, one of which failed
    assert (attempted, failed, len(measured)) == (5, 1, 3)


def test_prepare_runs_outside_the_timing():
    made = []

    def prepare(i):
        made.append(i)
        time.sleep(0.05)

    cold, measured, attempted, _ = workloads.timed_units(lambda i: None, 0.0, prepare=prepare)
    assert made == list(range(attempted))
    assert max([cold, *measured]) < 0.05


# ------------------------------------------------------------ metric names


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    pattern = re.compile(r"[A-Za-z0-9_.-]+")
    for name in [*run.END_TO_END, *run.PER_LAYER]:
        assert pattern.fullmatch(name), name
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER)
    for m in bench["end_to_end"]:
        assert m["unit"] == run.END_TO_END[m["name"]]
    for m in bench["per_layer"]:
        assert m["unit"] == run.PER_LAYER[m["name"]]
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


# ------------------------------------------------------------ spans


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value


class _FakeModule:
    @staticmethod
    def step(seconds):
        time.sleep(seconds)
        return seconds


def test_layer_spans_plus_gap_account_for_run(tmp_path):
    wl = workloads.TrainEvalWorkload(gen.events(1, 500), 2, str(tmp_path))
    sc = _FakeContext()
    tracer = tracing.Tracer(sc)
    layer_names = ["ingestion", "features", "ml.prepare", "ml.train", "ml.score"]
    modules = {}
    for name in layer_names:
        mod = type(name, (), {"step": staticmethod(_FakeModule.step)})
        tracer.wrap(mod, "step", name)
        modules[name] = mod
    n_units = 2 + wl.warmup  # cold, warm-up, one measured
    for u in range(n_units):
        with tracer.unit_scope(u, "main"):
            for name in layer_names:
                assert modules[name].step(0.01) == 0.01
                assert sc.props["spark.jobGroup.id"] == "pb:%d:main" % u
    tracer.restore()
    assert all(modules[n].step is _FakeModule.step for n in layer_names)
    assert sc.props["spark.jobGroup.id"] is None

    wl.bytes_written = [0] * n_units
    layers = wl.layers(tracer, tracing.EventLog(), None)
    run_s = next(s.seconds for s in tracer.unit_spans(n_units - 1) if s.name == "main")
    parts = [
        "ingestion.fetch_s", "features.plan_s", "ml.prepare_s", "ml.train_s", "ml.score_s",
    ]
    assert sum(layers[p] for p in parts) + layers["main.gap_s"] == pytest.approx(run_s, abs=1e-9)
    assert all(layers[p] >= 0.01 for p in parts)


def test_jobs_carry_the_innermost_span():
    sc = _FakeContext()
    tracer = tracing.Tracer(sc)
    with tracer.unit_scope(3, "unit"):
        with tracer.span("features.plan"):
            assert tracing.parse_group(sc.props["spark.jobGroup.id"]) == (3, "features.plan")
        assert tracing.parse_group(sc.props["spark.jobGroup.id"]) == (3, "unit")
    assert tracing.parse_group("some-streaming-run-id") is None


# ------------------------------------------------------------ event log


def test_union_seconds():
    assert tracing.union_seconds([]) == 0
    assert tracing.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4


def test_event_log_parser_on_a_tiny_session(tmp_path):
    """A real local session writes the log; the parser reads it back
    with job groups, tasks and the kernel stage's Python time."""
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    from pyspark.sql import SparkSession

    events = tmp_path / "events"
    events.mkdir()
    builder = SparkSession.builder.master("local[2]").appName("perfbench-selftest")
    conf = {
        **tracing.EVENT_LOG_CONF,
        "spark.eventLog.dir": "file://" + str(events),
        "spark.ui.enabled": "false",
        "spark.sql.shuffle.partitions": "2",
        "spark.sql.warehouse.dir": str(tmp_path / "wh"),
    }
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        tracer = tracing.Tracer(spark.sparkContext)
        df = spark.createDataFrame(
            pd.DataFrame({"g": np.arange(100) % 4, "x": np.arange(100.0)})
        )
        with tracer.unit_scope(1, "unit"):
            with tracer.span("features"):
                df.groupBy("g").applyInPandas(
                    lambda p: p.assign(x=p["x"].cumsum()), "g long, x double"
                ).write.format("noop").mode("overwrite").save()
        app = spark.sparkContext.applicationId
    finally:
        spark.stop()
    log = tracing.parse_event_log(str(events / app))
    keep = workloads.in_unit(1, ("features",))
    totals = tracing.engine_totals(log, keep)
    assert totals["jobs"] >= 1 and totals["tasks"] >= 1
    assert totals["executor_run_s"] > 0 and totals["shuffle_write_bytes"] > 0
    kernel = tracing.kernel_stages(log, keep)
    assert kernel and all(tracing.PY_RUN_METRIC in s.accums for s in kernel)
    assert tracing.union_seconds(tracing.job_intervals(log, keep)) > 0
