"""Shared plumbing: work directory, Spark session, HTTP client, statistics,
memory and process teardown."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4  # Spark local[n] threads; client threads never exceed this
HEAP = "1g"  # driver JVM heap; in local mode it also runs every task


def work_dir(name: str) -> str:
    """A fresh scratch directory inside the checkout (git-ignored), made the
    temporary directory of this process and of every JVM it starts."""
    import tempfile

    path = os.path.join(REPO, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    tmp = os.path.join(path, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on next use
    # -XX:-UsePerfData: no hsperfdata files under /tmp from any JVM,
    # including spark-submit's launcher
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return path


def import_engine():
    """Put the checkout's engine package on sys.path and import its session
    module; an ImportError here means the program under test is absent."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from healthcare_etl_pipeline_spark import session

    return session


def start_spark(work: str, *, event_log: bool = False):
    """``get_spark`` on local[CORES] with every file Spark writes kept
    under ``work``; the event log is on only for traced runs."""
    session = import_engine()
    conf = {
        "spark.local.dir": os.path.join(work, "tmp"),
        # Departure from get_spark's 16 GB default heap: G1 grows a heap on
        # timing-dependent heuristics, so peak RSS spread by 0.19 of its
        # median over four identical runs. A fixed 1 GB heap (initial = max)
        # holds it near 0.03; heap use then shows in jvm_live_heap_mb and in
        # GC time instead.
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
        conf["spark.eventLog.compress"] = "false"
    return session.get_spark(app_name="perfbench", cpus=CORES, extra_conf=conf)


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (Python workers of the JVM)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait until
    every one of them has exited."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    """VmHWM of this driver process plus its JVM."""
    pid = jvm_pid()
    return vm_hwm_mb("self") + (vm_hwm_mb(pid) if pid else 0.0)


def jvm_live_heap_mb(spark) -> float:
    """Live data on the JVM heap: heap in use right after a full collection,
    in MB. With a fixed-size heap the process RSS no longer shows heap
    growth, and peak heap use only shows how full G1 let the heap get."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def http(base: str, method: str, path: str, body: dict | None = None):
    """One JSON request; returns (status, payload, seconds)."""
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        base + path, data=data, method=method,
        headers={"Content-Type": "application/json"},
    )
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(req, timeout=170) as r:
            status, raw = r.status, r.read()
    except urllib.error.HTTPError as e:
        status, raw = e.code, e.read()
    seconds = time.perf_counter() - t0
    try:
        payload = json.loads(raw)
    except json.JSONDecodeError:
        payload = {"raw": raw[:200].decode("utf-8", "replace")}
    return status, payload, seconds


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile (q in 0..1)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


@dataclass
class Window:
    """Client-side latencies of one measured window. ``primary`` and
    ``secondary`` are the workload's two request classes; ``units`` is the
    work ``throughput_per_s`` counts (records, requests or queries)."""

    primary: list[float] = field(default_factory=list)
    secondary: list[float] = field(default_factory=list)
    units: int = 0
    elapsed: float = 0.0

    def __add__(self, other: "Window") -> "Window":
        return Window(
            self.primary + other.primary,
            self.secondary + other.secondary,
            self.units + other.units,
            self.elapsed + other.elapsed,
        )

    def stats(self) -> dict[str, float]:
        return {
            "primary_p50_s": median(self.primary),
            "secondary_p50_s": median(self.secondary),
            "primary_p90_s": quantile(self.primary, 0.9),
            "secondary_p90_s": quantile(self.secondary, 0.9),
            "throughput_per_s": self.units / self.elapsed,
        }


@dataclass
class Outcome:
    """What a workload run measured and checked."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(msg)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
