"""Run context shared by the workloads: the Spark session, the run's private
temp root, operation accounting and the report lines."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import tempfile
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from perfbench.probe import RETAIN_CONF, Probe


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    tiny: bool
    root: str
    spark: object = None
    probe: Probe | None = None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    # the workload's own metric names -> (value, unit), printed as `metric` lines
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def op(self, error: str | None) -> bool:
        """Count one operation; ``error`` marks it failed. Returns ok.
        Called from client threads."""
        with self._lock:
            self.attempted += 1
            if error:
                self.failed += 1
                if len(self.failures) < 20:
                    self.failures.append(error)
        return error is None

    def guarded(self, fn, *args):
        """Run one operation; an exception counts it as failed."""
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 — a failing call is a failed op
            self.op(f"{type(e).__name__}: {e}".splitlines()[0][:300])
            traceback.print_exc()
            return None

    def put(self, name: str, value: float, unit: str) -> None:
        self.report[name] = (float(value), unit)


def pct(samples, q: float) -> float:
    """Linear-interpolated percentile (numpy default)."""
    return float(np.percentile(np.asarray(samples, dtype=float), q))


def median(samples) -> float:
    return float(statistics.median(samples))


@contextmanager
def session(ctx: Ctx):
    """Start the session the program documents (``session.get_session`` on
    ``local[4]``), with every scratch directory inside the run's temp root.
    Yields the start time in seconds. Stops the JVM and waits for it."""
    from pyspark import SparkContext

    from distributed_vector_database_spark.session import get_session

    jtmp = os.path.join(ctx.root, "jvm-tmp")
    os.makedirs(jtmp)
    # every JVM started from here (Spark's launcher and driver) keeps its
    # temp files in the run's root and writes no perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}"
    conf = {
        **RETAIN_CONF,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(ctx.root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.root, "warehouse"),
    }
    t0 = time.perf_counter()
    spark = get_session(
        app_name=f"perfbench-{ctx.workload}", master="local[4]", extra_conf=conf
    )
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    ctx.probe = Probe(ctx.workload, spark, tracing=False)
    try:
        yield start_s
    finally:
        spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


@contextmanager
def temp_root(base: str, name: str):
    """A private temp root for one run; ``tempfile`` (and therefore every
    ``mkdtemp`` the program calls) points into it. Removed afterwards."""
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{name}-", dir=base)
    py_tmp = os.path.join(root, "py-tmp")
    os.makedirs(py_tmp)
    saved = os.environ.get("TMPDIR"), tempfile.tempdir
    os.environ["TMPDIR"] = py_tmp
    tempfile.tempdir = py_tmp
    try:
        yield root
    finally:
        if saved[0] is None:
            os.environ.pop("TMPDIR", None)
        else:
            os.environ["TMPDIR"] = saved[0]
        tempfile.tempdir = saved[1]
        shutil.rmtree(root, ignore_errors=True)


def layout_stats(path: str) -> tuple[int, int]:
    """(parquet data files, bytes of every file) under a layout root —
    sidecars and checksums count towards the bytes, not the files."""
    files = size = 0
    for dirpath, _, filenames in os.walk(path):
        for f in filenames:
            files += f.endswith(".parquet")
            size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def shard_files(path: str, shards: int) -> np.ndarray:
    """Parquet files per ``shard_id=<s>`` directory of a partitioned layout."""
    out = np.zeros(shards, dtype=np.int64)
    for s in range(shards):
        d = os.path.join(path, f"shard_id={s}")
        if os.path.isdir(d):
            out[s] = sum(f.endswith(".parquet") for f in os.listdir(d))
    return out


def per_op(c: dict, n: int) -> dict:
    """Spark counters summed over ``n`` operations, as per-operation means."""
    n = max(1, n)
    return {
        "op.jobs": c["jobs"] / n,
        "op.stages": c["stages"] / n,
        "op.tasks": c["tasks"] / n,
        "op.run_ms": c["run_ms"] / n,
        "op.cpu_ms": c["cpu_ms"] / n,
        "op.wait_ms": (c["run_ms"] - c["cpu_ms"]) / n,
        "op.input_records": c["input_records"] / n,
        "op.shuffle_bytes": c["shuffle_write_bytes"] / n,
    }


def traced_layers(probe: Probe, setup_spans, ops) -> tuple[dict, dict]:
    """The per-layer metrics every workload reports from a traced run.

    ``setup_spans`` are the spans of the set-up; ``ops`` holds one
    ``(wall_s, plan call, action call)`` per foreground operation. An
    operation whose plan call has no span ran untraced and only serves the
    tracing overhead. Returns the metrics and the summed Spark counters of
    the traced operations."""
    probe.resolve_counters()
    c_setup = probe.counters(setup_spans)
    traced = [x for x in ops if x[1].span is not None]
    untraced = [x[0] for x in ops if x[1].span is None]
    c_op = probe.counters([s for x in traced for s in (x[1].span, x[2].span)])
    c_all = probe.counters(probe.spans)
    layer = {
        "setup.jobs": c_setup["jobs"],
        "setup.cpu_s": c_setup["cpu_ms"] / 1e3,
        "op.plan_ms": median([x[1].dt for x in traced]) * 1e3,
        "op.action_ms": median([x[2].dt for x in traced]) * 1e3,
        **per_op(c_op, len(traced)),
        "spark.gc_ms": c_all["gc_ms"],
        "spark.spill_bytes": c_all["spill_bytes"],
        "trace.overhead_pct": overhead_pct([x[0] for x in traced], untraced),
        "trace.spans": len(probe.spans),
    }
    return layer, c_op


def overhead_pct(traced: list[float], untraced: list[float]) -> float:
    """Tracing overhead in percent: traced vs untraced median latency of
    interleaved operations of the same run."""
    if not traced or not untraced:
        return 0.0
    return (median(traced) / median(untraced) - 1.0) * 100.0
