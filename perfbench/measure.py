"""Measurement helpers: percentiles, the process-tree RSS sampler,
spans with self time, and a stdlib-only parser for Spark's JSON-lines
event log.

Nothing here reaches into the program. Spans are opened by the
benchmark around its calls into the package's public functions; the
Spark figures come from the event log Spark writes itself.
"""

from __future__ import annotations

import json
import math
import os
import threading
from dataclasses import dataclass, field


def tail_percentile(n: int, beyond: int = 10) -> int:
    """The highest whole percentile ``p`` whose nearest-rank sample has
    at least ``beyond`` samples above it; 0 when ``n`` is too small."""
    for p in range(99, 0, -1):
        if n - math.ceil(p * n / 100) >= beyond:
            return p
    return 0


def tail(values: list[float], beyond: int = 10) -> tuple[float, int, int]:
    """(value, percentile, n) of the tail rule. With fewer than
    ``beyond + 1`` samples no percentile qualifies and the maximum is
    reported with percentile 100."""
    s = sorted(values)
    p = tail_percentile(len(s), beyond)
    if p == 0:
        return s[-1], 100, len(s)
    return s[math.ceil(p * len(s) / 100) - 1], p, len(s)


# ---------------------------------------------------------------- memory


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; fields resume after the last ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def driver_rss_mb(root: int) -> float:
    """Resident memory of the driver: the Python process ``root`` plus
    the JVM(s) among its descendants. Python workers are left out:
    how many are alive at a sampling instant varies from run to run."""
    parents = _ppid_map()
    pids, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, parent in parents.items():
            if parent == p and child not in pids:
                pids.add(child)
                frontier.append(child)
    jvms = [p for p in pids if _comm(p) == "java"]
    return sum(_rss_kb(p) for p in [root, *jvms]) / 1024.0


class RssSampler:
    """Samples the driver's RSS on a thread; ``peak_mb`` after
    ``stop``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, driver_rss_mb(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, driver_rss_mb(os.getpid()))
        return self.peak_mb


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, entries) under ``path``; (0, 0) when it does not exist."""
    total = entries = 0
    for dirpath, dirnames, filenames in os.walk(path):
        entries += len(dirnames) + len(filenames)
        for f in filenames:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total, entries


# ----------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: int | None = None  # index into the span list
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's
    intervals clipped to it."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


# ------------------------------------------------------------- event log

# Spark 4.1 PythonSQLMetrics display names -> benchmark metric names
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_s: float
    end_s: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    python: dict[str, float] = field(default_factory=dict)


def _walk_plan(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType", "sum"))
    for child in node.get("children", []):
        _walk_plan(child, out)


def parse_event_log(lines) -> list[Job]:
    """Jobs with their task totals from Spark's JSON-lines event log.

    Task metrics come from ``SparkListenerTaskEnd``; Python-worker SQL
    metrics are matched through the accumulator ids declared in each
    SQL execution's plan (``SparkListenerSQLExecutionStart`` and
    ``...AdaptiveExecutionUpdate``), so their units follow the declared
    metric type."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    accs: dict[int, tuple[str, str]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                      ev["Submission Time"] / 1000.0)
            job.stages = list(ev.get("Stage IDs", []))
            for sid in job.stages:
                stage_job[sid] = job.job_id
            jobs[job.job_id] = job
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_s = ev["Completion Time"] / 1000.0
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(ev.get("sparkPlanInfo") or {}, accs)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            job.tasks += 1
            m = ev.get("Task Metrics") or {}
            job.run_s += m.get("Executor Run Time", 0) / 1000.0
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            job.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            job.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name, mtype = accs.get(acc.get("ID"), (acc.get("Name"), "sum"))
                metric = PYTHON_METRICS.get(name)
                if metric is None or acc.get("Update") is None:
                    continue
                value = float(acc["Update"])
                if metric.endswith("_s"):
                    value *= _TIME_SCALE.get(mtype, 1e-3)
                job.python[metric] = job.python.get(metric, 0.0) + value
    return sorted(jobs.values(), key=lambda j: j.job_id)


def read_event_log(directory: str) -> list[Job]:
    """Parse the one application's log file under ``directory``."""
    apps = [os.path.join(directory, f) for f in os.listdir(directory)
            if not f.startswith(".")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {directory}: {apps}")
    with open(apps[0]) as f:
        return parse_event_log(f)


SPARK_TOTALS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.idle_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
)


def job_totals(jobs: list[Job], slots: int) -> dict[str, float]:
    """The ``spark.*`` and ``python.*`` sums over ``jobs``. Idle time is
    each job's wall time times the task slots, less its executor run
    time."""
    out = dict.fromkeys(SPARK_TOTALS, 0.0)
    out.update(dict.fromkeys(PYTHON_METRICS.values(), 0.0))
    for j in jobs:
        out["spark.jobs"] += 1
        out["spark.stages"] += len(j.stages)
        out["spark.tasks"] += j.tasks
        wall = max(0.0, j.end_s - j.submit_s)
        out["spark.idle_s"] += max(0.0, wall * slots - j.run_s)
        out["spark.executor_run_s"] += j.run_s
        out["spark.executor_cpu_s"] += j.cpu_s
        out["spark.gc_s"] += j.gc_s
        out["spark.shuffle_read_bytes"] += j.shuffle_read
        out["spark.shuffle_write_bytes"] += j.shuffle_write
        out["spark.spill_bytes"] += j.spill
        for k, v in j.python.items():
            out[k] += v
    return out
