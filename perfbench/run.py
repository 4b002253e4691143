"""Seeded benchmark of the market-data pipeline.

Usage (from the repository root)::

    python3 perfbench/run.py --workload train_eval --seed 1 --seconds 8 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs the same workload twice in one process: an untraced
pass, then a traced pass (spans, one Spark job group per span, Spark's
local event log), and prints the per-layer metrics of the traced pass
together with the tracing overhead (traced minus untraced) for each
end-to-end metric. The last line of standard output is the result
object; the line before it is the full record, stamped with the host,
versions and seed. See ``perfbench/README.md`` for the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("train_eval", "stream_ticks")

#: name -> unit; every run with ``--trace 0`` prints all of them
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "rows_per_s": "rows/s",
}

#: end-to-end metrics with a like-for-like traced twin. The traced pass
#: runs second, in a JVM the untraced pass warmed.
OVERHEAD = tuple(END_TO_END)

#: name -> unit; every run with ``--trace 1`` prints all of them, with
#: 0 where a workload never enters the layer. ``cold_run_s`` and
#: ``peak_rss_mb`` come from the untraced pass: they spread too widely
#: between runs on a 4-core host to carry a bound.
PER_LAYER = {
    "cold_run_s": "s",
    "peak_rss_mb": "MB",
    "session.jvm_setup_s": "s",
    "session.start_s": "s",
    "latency_p90_s": "s",
    "ingestion.fetch_s": "s",
    "ingestion.jobs": "count",
    "ingestion.bytes_written": "bytes",
    "features.plan_s": "s",
    "features.kernel_task_s": "s",
    "features.python_s": "s",
    "features.kernel_tasks": "count",
    "features.exchange_bytes": "bytes",
    "features.jobs": "count",
    "ml.prepare_s": "s",
    "ml.prepare_jobs": "count",
    "ml.train_s": "s",
    "ml.score_s": "s",
    "ml.score_jobs": "count",
    "main.gap_s": "s",
    "streaming.batch_s_p50": "s",
    "streaming.add_batch_s_p50": "s",
    "streaming.source_s_p50": "s",
    "streaming.commit_s_p50": "s",
    "streaming.rows_per_batch": "rows",
    "streaming.state_rows": "rows",
    "streaming.state_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_s": "s",
    "spark.driver_gap_s": "s",
    "loadgen.late_s": "s",
    **{f"trace.overhead.{k}": END_TO_END[k] for k in OVERHEAD},
}

#: set-ups per untraced pass; ``setup_s`` is the median of those that
#: restart the session in a running JVM (all but the first)
SETUPS = 5
#: measured units per pass of a traced run, which makes two passes and
#: must end within 180 s on a host whose hypervisor steals CPU time
TRACED_MIN_UNITS = 2
#: ticks in one ``stream_ticks`` drain
BACKLOG_TICKS = 100_000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident set of this process and its descendants
    (the JVM, the Python workers) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = _rss_kb(me) + sum(_rss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor took from this host's CPUs
    since boot (``steal`` in /proc/stat), 0 where the kernel has none."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


# ------------------------------------------------------------ sessions


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and size local mode to this host's cores."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["MDP_DRIVER_JAVA_OPTS"] = (
        os.environ.get("MDP_DRIVER_JAVA_OPTS", "-XX:+UseG1GC -XX:ReservedCodeCacheSize=512m")
        + f" -Djava.io.tmpdir={tmp}"
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(work: str, event_dir: str | None):
    from marketdatapipeline_spark.session import get_spark

    import tracing

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(tracing.EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + event_dir
    return get_spark(app_name="perfbench", extra_conf=conf)


def shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it and every process
    it started to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    tree = descendants(os.getpid())
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ------------------------------------------------------------ workloads


def make_workload(name: str, seed: int, seconds: float, work: str):
    """Generate the inputs for ``name`` (outside every timed region).
    Sizes keep one run near a minute on 4 cores."""
    import gen
    import workloads as w

    if name == "train_eval":
        # the fixture path's default three symbols, 1,000 events each
        return w.TrainEvalWorkload(gen.events(seed, 10_000), 3, work)
    if name == "stream_ticks":
        # 200-tick files every 0.1 s: with files this frequent a
        # micro-batch takes whatever arrived during the previous one, so
        # the batch size does not jump between whole multiples of a file
        return w.StreamTicksWorkload(seed, rate=2_000, period=0.1, n_symbols=50,
                                     max_window_s=seconds, warmup_s=4.0,
                                     backlog=BACKLOG_TICKS, work=work)
    raise ValueError(f"unknown workload {name!r}")


def run_pass(wl, work: str, seconds: float, setups: int, event_dir: str | None,
             min_units: int):
    """Set up ``setups`` times (session start + input staging), measure
    and check on the last session, then stop it. With ``event_dir`` the
    pass is traced and also returns its per-layer metrics.

    A set-up that launches the JVM is timed apart (``jvm_setup_s``); the
    others restart the session in the running JVM, and ``setup_s`` is
    their median."""
    from pyspark import SparkContext

    import tracing
    import workloads as w

    session_s, setup_s, jvm_setup_s = [], [], 0.0
    spark = None
    marks = [time.perf_counter()]
    rss = RssSampler().start()
    while len(setup_s) < setups - (1 if jvm_setup_s else 0):
        if spark is not None:
            wl.teardown()
            spark.stop()
        launch = SparkContext._gateway is None
        t0 = time.perf_counter()
        spark = start_session(work, event_dir)
        t1 = time.perf_counter()
        wl.stage(spark)
        t2 = time.perf_counter()
        if launch:
            jvm_setup_s = t2 - t0
        else:
            session_s.append(t1 - t0)
            setup_s.append(t2 - t0)
    marks.append(time.perf_counter())
    tracer = tracing.Tracer(spark.sparkContext) if event_dir else tracing.NullTracer()
    measured = wl.measure(spark, tracer, seconds, min_units)
    peak = rss.stop()
    marks.append(time.perf_counter())
    fails = wl.check(spark)
    app_id = spark.sparkContext.applicationId
    wl.teardown()
    spark.stop()  # also completes the event log
    marks.append(time.perf_counter())

    units = measured.unit_s
    record = {
        "setup_s": statistics.median(setup_s),
        "setup_all_s": setup_s,
        "jvm_setup_s": jvm_setup_s,
        "session_s": statistics.median(session_s),
        "cold_run_s": measured.cold_s,
        "latency_p50_s": w.median_or_zero(units),
        "latency_p90_s": w.percentile(units, 90),
        "rows_per_s": measured.rows_per_s,
        "peak_rss_mb": peak,
        "unit_s": units,
        "attempted": measured.attempted + 1,  # + the output check
        "failed": measured.failed + (1 if fails else 0),
        "check_failures": fails,
        # wall time of the pass's phases, for fitting runs to the budget
        "phase_s": dict(zip(("setups", "measure", "check"),
                            (b - a for a, b in zip(marks, marks[1:])))),
    }
    layers = None
    if event_dir is not None:
        log = tracing.parse_event_log(os.path.join(event_dir, app_id))
        layers = wl.layers(tracer, log, measured)
    return record, layers


def stamp(seed: int, trace_on: bool) -> dict:
    head = "unknown"
    try:
        head = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True,
            # never report the HEAD of a repository around the checkout
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass  # a source checkout without git metadata
    return {
        "git_head": head,
        "nproc": nproc(),
        "load1_start": os.getloadavg()[0],
        "steal_s_start": cpu_steal_s(),
        "python": platform.python_version(),
        "seed": seed,
        "trace": int(trace_on),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    sys.path.insert(0, ROOT)
    import marketdatapipeline_spark  # noqa: F401 — fail fast without the program
    import pyspark

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    configure_env(work)
    # run_pipeline creates data/ and models/ under the working directory
    os.chdir(work)

    record = stamp(args.seed, bool(args.trace))
    record["workload"] = args.workload
    record["seconds"] = args.seconds
    record["pyspark"] = pyspark.__version__
    try:
        wl = make_workload(args.workload, args.seed, args.seconds, work)
        if not args.trace:
            base, _ = run_pass(wl, work, args.seconds, SETUPS, None, wl.min_units)
            passes = [base]
            values, units = {k: base[k] for k in END_TO_END}, END_TO_END
        else:
            half = args.seconds / 2
            base, _ = run_pass(wl, work, half, SETUPS, None, TRACED_MIN_UNITS)
            traced, layers = run_pass(wl, work, half, 1, os.path.join(work, "events"),
                                      TRACED_MIN_UNITS)
            passes = [base, traced]
            record["traced"] = traced
            layers["cold_run_s"] = base["cold_run_s"]
            layers["peak_rss_mb"] = base["peak_rss_mb"]
            layers["session.jvm_setup_s"] = base["jvm_setup_s"]
            layers["session.start_s"] = traced["session_s"]
            layers["latency_p90_s"] = traced["latency_p90_s"]
            for k in OVERHEAD:
                layers[f"trace.overhead.{k}"] = traced[k] - base[k]
            values, units = {k: float(layers.get(k, 0.0)) for k in PER_LAYER}, PER_LAYER
        record["untraced"] = base
        record["java"] = pyspark.SparkContext._jvm.System.getProperty("java.version")
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    record["load1_end"] = os.getloadavg()[0]
    record["wall_s"] = time.perf_counter() - t_start
    record["steal_s"] = cpu_steal_s() - record.pop("steal_s_start")

    failed = sum(p["failed"] for p in passes)
    result = {
        "correct": failed == 0,
        "attempted": sum(p["attempted"] for p in passes),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(record, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
