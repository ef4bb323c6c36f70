"""Harness shared by the workloads: isolation, the Spark session,
outside-the-program counters (Spark status store, /proc RSS), spans,
and the summary statistics every result uses."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HIGH_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


# ---------------------------------------------------------------------------
# isolation
# ---------------------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> dict[str, str]:
    """Point every scratch location the program or Spark uses inside
    ``work`` (a directory in the checkout), pin the core count, and cap
    the driver heap at 2 GiB (the program defaults to 8 GiB) to keep the
    process tree small. Must run before pyspark is imported."""
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = env["TMPDIR"]
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    return env


def environment(env: dict[str, str], spark) -> dict:
    """What a result must record to be comparable with another."""
    try:
        commit = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    jvm = spark.sparkContext._jvm
    return {
        "commit": commit,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": jvm.System.getProperty("java.version"),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], REPO),
    }


def start_spark(work: str):
    """The program's own session builder (``local[SPARK_GRAFT_CPUS]``),
    with the JVM's temp dir and the SQL warehouse kept inside ``work``."""
    from insurance_helper_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


# ---------------------------------------------------------------------------
# counters from outside the program
# ---------------------------------------------------------------------------


class SparkCounters:
    """Per-job-group Spark counters read from ``statusTracker()`` and the
    application status store (via py4j); the UI stays off."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        jvm = self.sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def collect(self, group: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        out = {"jobs": 0, "tasks": 0, "shuffle_mb": 0.0, "input_mb": 0.0, "run_s": 0.0}
        for job in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for stage in info.stageIds:
                seq = store.stageData(int(stage), False, self._no_status, False, self._no_quantiles)
                for i in range(seq.size()):
                    sd = seq.apply(i)
                    out["tasks"] += sd.numCompleteTasks()
                    out["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / 1e6
                    out["input_mb"] += sd.inputBytes() / 1e6
                    out["run_s"] += sd.executorRunTime() / 1e3
        return out


def _tree_rss_kb(root: int) -> int:
    """Resident set of ``root`` and all its descendants (the driver JVM
    and the Python workers are children of this process)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                ppid = kb = 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except (OSError, ValueError):
            continue
        pid = int(name)
        rss[pid] = kb
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's RSS every half second."""

    interval = 0.5

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    trace_id: str = ""
    group: str = ""
    spark: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.
    Each span runs its calls under its own Spark job group, so its Spark
    counters cover exactly the jobs the layer ran. ``enabled=False``
    keeps only wall time and sets no job group."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.counters = SparkCounters(spark) if enabled else None
        self.spans: list[Span] = []
        self._local = threading.local()
        self._seq = 0
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, trace_id: str = ""):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            self._seq += 1
            group = f"perfbench-{self._seq}"
        sp = Span(
            name, time.perf_counter(), parent=stack[-1].name if stack else None,
            trace_id=trace_id, group=group,
        )
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.enabled:
                sp.spark = self.counters.collect(group)
                if stack:
                    sc.setJobGroup(stack[-1].group, stack[-1].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def spark_totals(self, name: str, cores: int) -> dict:
        """The five Spark counters over every span called ``name``."""
        spans = [s for s in self.spans if s.name == name]
        agg = {"jobs": 0, "tasks": 0, "shuffle_mb": 0.0, "input_mb": 0.0, "run_s": 0.0}
        for s in spans:
            for k in agg:
                agg[k] += s.spark.get(k, 0)
        wall = sum(s.duration for s in spans)
        return {
            "spark.jobs": agg["jobs"],
            "spark.tasks": agg["tasks"],
            "spark.shuffle_mb": agg["shuffle_mb"],
            "spark.input_mb": agg["input_mb"],
            "spark.executor_busy_share": agg["run_s"] / (wall * cores) if wall else 0.0,
        }

    def records(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "trace_id": s.trace_id, "spark": s.spark, "counts": s.counts}
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def high_percentile(samples: list[float]) -> dict:
    """The highest of HIGH_PERCENTILES that has at least ten samples
    beyond it, with its value and the sample count. ``percentile`` is
    None when fewer than 20 samples leave no such percentile."""
    n = len(samples)
    ordered = sorted(samples)
    for p in HIGH_PERCENTILES:
        rank = int(round(p / 100.0 * n))  # samples at or below the percentile
        if rank >= 1 and n - rank >= 10:
            return {"percentile": p, "value_s": ordered[rank - 1], "samples": n}
    return {"percentile": None, "value_s": None, "samples": n}


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
