"""What every workload shares: the Spark session's lifetime, CPU sampling,
check accounting, per-seed digests kept across runs, and the pass count."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import time

from perfbench import eventlog, inputs, procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")  # caches and per-run files
CORES = len(os.sched_getaffinity(0))  # what `nproc` reports

# Nominal wall of one timed pass on a 4-core box. A run makes
# round(--seconds / nominal) passes, at least one: the amount of work is
# fixed by --seconds, never by how fast the passes happen to go.
NOMINAL_PASS_S = {"backlog_loop": 30.0, "analytics": 15.0}

# gpse modules the traced runs attribute Spark task metrics to
LAYERS = ("frontier", "fetch", "extract", "seen", "catalog", "metrics", "crawl", "queries", "pipeline")


def median(xs) -> float:
    return float(statistics.median(xs))


def _source_hash() -> str:
    """Hash of the engine's sources: stored digests are compared only
    between runs of the same code."""
    h = hashlib.sha256()
    gdir = os.path.join(ROOT, "gpse")
    for n in sorted(os.listdir(gdir)):
        if n.endswith(".py"):
            with open(os.path.join(gdir, n), "rb") as f:
                h.update(n.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


class Run:
    """State of one benchmark invocation: its scratch directory, Spark
    session, and the output checks attempted and failed so far."""

    def __init__(self, args) -> None:
        self.args = args
        self.pid = os.getpid()
        self.dir = os.path.join(WORK, f"run-{self.pid}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.host = procstat.HostContext()
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self._jvm = None
        self.events = os.path.join(self.dir, "events") if args.trace else None

    @property
    def n_passes(self) -> int:
        return max(1, round(self.args.seconds / NOMINAL_PASS_S[self.args.workload]))

    def start_session(self) -> float:
        """Start Spark and its Python workers; returns the seconds taken."""
        t0 = time.perf_counter()
        self.spark = inputs.session(self.dir, CORES, self.events)
        self._jvm = getattr(self.spark.sparkContext._gateway, "proc", None)
        inputs.warm_workers(self.spark, CORES)
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop Spark and wait until the JVM (and the Python workers it
        forked) has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.sparkContext.setLogLevel("OFF")
        self.spark.stop()
        self.spark = None
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if self._jvm is not None:
            self._jvm.stdin.close()  # the JVM exits when its stdin closes
            try:
                self._jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._jvm.kill()
                self._jvm.wait(timeout=30)

    def task_groups(self) -> dict[str, eventlog.GroupMetrics]:
        """Task metrics per span job group from the traced run's event log
        (complete only once the session has stopped)."""
        return eventlog.group_metrics(self.events)

    def cpu_s(self) -> float:
        return procstat.tree_cpu_s(self.pid)

    def check(self, fails: list[str], n_checks: int = 1) -> None:
        self.attempted += n_checks
        self.failures.extend(fails)

    def check_stored(self, key: str, value) -> None:
        """Record `value` for (key, engine sources) on first sight; every
        later run of the same code and seed must produce the same."""
        path = os.path.join(WORK, "digests", f"{key}-{_source_hash()}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        value = json.loads(json.dumps(value))
        if not os.path.exists(path):
            tmp = f"{path}.{self.pid}"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(value, f)
            os.replace(tmp, path)
        with open(path, encoding="utf-8") as f:
            stored = json.load(f)
        self.check([] if stored == value else [f"{key}: {value} differs from an earlier run's {stored}"])

    def close(self) -> None:
        self.stop_session()
        shutil.rmtree(self.dir, ignore_errors=True)


def layer_metrics(groups: dict[str, eventlog.GroupMetrics]) -> dict[str, eventlog.GroupMetrics]:
    """Task metrics per gpse layer (empty for a layer no span ran in)."""
    layers = eventlog.by_layer(groups)
    return {k: layers.get(k, eventlog.GroupMetrics()) for k in LAYERS}


def layer_resources(layers: dict[str, eventlog.GroupMetrics]) -> dict[str, float]:
    out = {}
    for name, g in layers.items():
        out[f"{name}.executor_cpu_s"] = g.executor_cpu_s
        out[f"{name}.spill_mb"] = g.spill_mb
    return out
