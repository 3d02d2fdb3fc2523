"""Shared plumbing: work directories, session start, statistics, process
tree memory and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the run started."""
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Metric:
    value: float
    unit: str
    n: int


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    metrics: dict[str, Metric] = field(default_factory=dict)
    layers: dict[str, Metric] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.notes.append(f"FAILED: {why}")


class Workdir:
    """A fresh directory under ``.perfbench/work`` for one run; every file
    the run (and the JVM it starts) writes lands inside it."""

    def __init__(self, workload: str) -> None:
        self.path = os.path.join(STATE, "work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "tmp")
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        # Python workers import the program and the benchmark's modules
        here = os.path.dirname(os.path.abspath(__file__))
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, here, os.environ.get("PYTHONPATH")) if p)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_session(work: Workdir, cores: int):
    """``session.get_spark`` on ``local[cores]`` with every scratch path
    inside the run's work directory."""
    from kafka_etl_consumer_spark.session import get_spark

    tmp = os.path.join(work.path, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work.path, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark.sql import SparkSession

    spark.stop()
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return float(statistics.median(values))


class TreeRss:
    """Samples the resident memory of this process and all of its
    descendants (the JVM and the Python workers) every 200 ms."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="tree-rss", daemon=True)

    @staticmethod
    def _tree_kb() -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue
            parent[int(d)] = int(stat[stat.rindex(")") + 2 :].split()[1])
            rss[int(d)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
        me, total = os.getpid(), 0
        for pid, kb in rss.items():
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p == me:
                total += kb
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(0.2)

    def __enter__(self) -> "TreeRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, self._tree_kb())


def timed_setup(work: Workdir, cores: int, stage, tracer):
    """Start the session ``SETUP_REPS`` times, each a fresh session after
    stopping the previous one, then stage the inputs once. The first start
    pays the JVM launch; the median is what a session start costs on a
    warm host.

    Returns (spark, staged, median session start + staging seconds,
    median get_spark seconds)."""
    spark = None
    sessions = []
    for rep in range(SETUP_REPS):
        if spark is not None:
            stop_session(spark)
        t0 = time.perf_counter()
        with tracer.span("get_spark", "session", f"setup-{rep}"):
            spark = start_session(work, cores)
        sessions.append(time.perf_counter() - t0)
    log(f"session started {SETUP_REPS}x")
    t0 = time.perf_counter()
    staged = stage(spark)
    log("inputs staged")
    return spark, staged, median(sessions) + time.perf_counter() - t0, median(sessions)


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies per state)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: a loaded host slows every figure of the run."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta)) if len(delta) > 7 else 0.0


def emit(workload: str, outcome: Outcome, trace: bool, spec: dict) -> bool:
    """Print every metric by name with unit and sample count, then the
    one-line JSON result. Returns whether the run is correct."""
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    source = outcome.layers if trace else outcome.metrics
    missing = [n for n in names if n not in source]
    if missing:
        outcome.fail(1, f"metrics not measured: {missing}")
    for note in outcome.notes:
        print(f"[{workload}] {note}")
    for n in names:
        if n in source:
            m = source[n]
            print(f"[{workload}] {n} = {m.value:.6g} {m.unit} (n={m.n})")
    print(f"[{workload}] error_rate = {outcome.failed / max(1, outcome.attempted):.6g} "
          f"(failed {outcome.failed} of {outcome.attempted} attempted)")
    correct = outcome.failed == 0
    result = {
        "correct": correct,
        "attempted": max(1, int(outcome.attempted)),
        "failed": int(outcome.failed),
        "metrics": {
            n: {"value": float(source[n].value), "unit": source[n].unit}
            for n in names
            if n in source
        },
    }
    print(json.dumps(result), flush=True)
    return correct
