"""Shared plumbing for the workloads: host sizing, session set-up,
statistics, span timing, Spark event-log parsing and the result line.

The benchmark measures the engine from outside.  It times calls into the
engine's public functions and reads Spark's own reports (the event log,
``StreamingQueryProgress``, the streaming checkpoint).  It changes no
engine code."""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

# --- host sizing ---------------------------------------------------------


def host_info() -> dict:
    """Core count, memory and load the run saw, reported with every result
    so numbers from different boxes are never mixed."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg_1m": os.getloadavg()[0],
    }


def cpu_times() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``, all CPUs)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings.  On a shared host a run with a high share is
    slower across the board; compare runs with similar shares."""
    d = [y - x for x, y in zip(before, after)]
    return d[7] / max(sum(d), 1)


def configure_env(root: str, work: str, host: dict) -> None:
    """Size the session to the host and keep Spark's files inside ``work``.

    ``session.get_spark`` defaults to 32 cores and a 48g heap; here the
    cores come from the CPU affinity mask and the heap is a quarter of
    physical memory (at most 8g).  ``PYTHONPATH`` lets the Python workers
    Spark forks for ``mapInPandas`` import the engine from any cwd."""
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    heap_mb = min(host["mem_total_mb"] // 4, 8192)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mb}m"
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs,
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(work: str, trace: bool):
    """``get_spark`` plus one tiny job, so 'ready' means tasks can run."""
    from gtfs_realtime_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


#: context restarts timed per run; ``setup_s`` takes their median
SETUP_SAMPLES = 5


def measure_setup(t_process: float, modules: list[str], work: str, trace: bool,
                  after_first: Callable[[], None]):
    """Start the session, then set up ``SETUP_SAMPLES`` more times; return
    ``(spark, timings)``.

    The workload's engine modules are imported first, timed: neither the
    engine nor pyspark is loaded before (numpy, pandas and pyarrow are).  The first start
    (``cold``: start of ``run.py`` to a ready session, the JVM launch
    included) is reported on its own.  ``after_first`` runs next,
    untimed.  Each later sample stops the SparkContext and starts it
    again in the running JVM.  ``setup_s`` is the import time plus the
    median restart: work moved into import or session start shows.  The
    import is timed once per run; the registry import alone takes about
    3 s, too long to repeat in a fresh interpreter."""
    import importlib

    t = time.perf_counter()
    for m in modules:
        importlib.import_module(m)
    imports = time.perf_counter() - t
    spark = start_session(work, trace)
    cold = time.perf_counter() - t_process
    after_first()
    sessions = []
    for _ in range(SETUP_SAMPLES):
        spark.stop()
        t = time.perf_counter()
        spark = start_session(work, trace)
        sessions.append(time.perf_counter() - t)
    return spark, {"setup": imports + median(sessions), "cold": cold, "import": imports,
                   "session": sessions}


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended while scanning
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm(spark=None, timeout_s: float = 30.0) -> None:
    """Stop the session, then the driver JVM and the Python workers it
    forked, and wait until each has ended.

    PySpark leaves the JVM to notice on its own, seconds after the Python
    process exits, that its parent is gone; a later run could then share
    the host with it."""
    import signal
    import subprocess

    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is terminated below either way
        pass
    if proc is None:
        return
    kids = _descendants(proc.pid)
    proc.terminate()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the workers end when the JVM's pipes close; kill what outlives that
    for grace in (timeout_s, 5.0):
        deadline = time.monotonic() + grace
        while any(_alive(p) for p in kids) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in filter(_alive, kids):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


@dataclass
class Result:
    """What a workload hands back to ``run.py``."""

    correct: bool
    attempted: int
    failed: int
    latency_p50_s: float
    rows_per_s: float
    per_layer: dict = field(default_factory=dict)
    #: called after the session stopped (the event log is complete)
    finish_trace: Callable[[], dict] = dict


# --- statistics ----------------------------------------------------------


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(label, value)``; the maximum when that percentile would not be
    above the median (20 samples or fewer)."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 20:
        return ("max", xs[-1]) if xs else ("max", float("nan"))
    pct = math.floor(100 * (n - 10) / n)
    return f"p{pct}", xs[max(0, math.ceil(pct / 100 * n) - 1)]


def report(name: str, value: float, unit: str, n: int | None = None, note: str = "") -> None:
    """One human-readable metric line (the JSON result is the last line)."""
    count = f"  n={n}" if n is not None else ""
    print(f"{name:<34} {value:>14.4f} {unit:<6}{count}  {note}".rstrip(), flush=True)


def report_timing(name: str, xs, unit: str = "s") -> None:
    label, v = tail(xs)
    report(f"{name}.p50", median(xs), unit, len(xs))
    report(f"{name}.{label}", v, unit, len(xs))


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


# --- spans and job groups ------------------------------------------------


class Spans:
    """Named durations kept in memory, written out when the run ends."""

    def __init__(self):
        self.by_name: dict[str, list[float]] = {}

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.by_name.setdefault(name, []).append(time.perf_counter() - t)

    def total(self, name: str) -> float:
        return sum(self.by_name.get(name, ()))

    def values(self, name: str) -> list[float]:
        return self.by_name.get(name, [])


@contextmanager
def job_group(spark, group: str):
    """Tag every job started inside the block with ``group``; the event
    log and the status tracker then attribute jobs to it."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def compile_seconds(df) -> float:
    """Catalyst analysis + optimisation + physical planning of ``df``."""
    t = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    return time.perf_counter() - t


# --- Spark event log -----------------------------------------------------


_SQL_EVENT = "org.apache.spark.sql.execution.ui.SparkListener"


def _metric_ids(plan: dict, name: str) -> set[int]:
    """Accumulator ids of the SQL metric ``name`` anywhere in a plan tree."""
    ids = {m["accumulatorId"] for m in plan.get("metrics", []) if m.get("name") == name}
    for child in plan.get("children", []):
        ids |= _metric_ids(child, name)
    return ids


def parse_event_log(log_dir: str, keep: Callable[[str], bool]) -> dict:
    """Sum task metrics over the jobs whose job group ``keep`` accepts
    (the timed operations), from Spark's JSON event log.  Files read come
    from the scans' driver-side SQL metric of the same jobs' SQL
    executions."""
    stage_group: dict[int, str] = {}
    executions: set[str] = set()
    file_metric_ids: dict[str, set[int]] = {}  # SQL execution id -> accumulator ids
    driver_updates: dict[str, list] = {}
    agg = {"jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0, "gc_ms": 0,
           "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
           "input_bytes": 0, "input_records": 0}
    # Spark 4 writes rolling logs: one directory per application holding
    # ``events_<n>_*`` files (plus an ``appstatus_*`` marker)
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    if keep(group):
                        agg["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                        if "spark.sql.execution.id" in props:
                            executions.add(str(props["spark.sql.execution.id"]))
                elif kind == "SparkListenerStageCompleted":
                    if ev["Stage Info"]["Stage ID"] in stage_group:
                        agg["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Stage ID") not in stage_group:
                        continue
                    m = ev.get("Task Metrics") or {}
                    agg["tasks"] += 1
                    agg["task_ms"] += m.get("Executor Run Time", 0)
                    agg["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    agg["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    agg["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    agg["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    im = m.get("Input Metrics") or {}
                    agg["input_bytes"] += im.get("Bytes Read", 0)
                    agg["input_records"] += im.get("Records Read", 0)
                elif kind in (_SQL_EVENT + "SQLExecutionStart",
                              _SQL_EVENT + "SQLAdaptiveExecutionUpdate"):
                    file_metric_ids.setdefault(str(ev["executionId"]), set()).update(
                        _metric_ids(ev["sparkPlanInfo"], "number of files read"))
                elif kind == _SQL_EVENT + "DriverAccumUpdates":
                    driver_updates.setdefault(str(ev["executionId"]), []).extend(ev["accumUpdates"])
    agg["files_read"] = sum(
        value for e in executions for acc, value in driver_updates.get(e, ())
        if acc in file_metric_ids.get(e, ()))
    return agg


def execute_metrics(log_dir: str, keep: Callable[[str], bool], run_s: float,
                    cores: int) -> dict:
    """The ``execute.*`` and ``sources.read_*`` per-layer metrics over the
    jobs whose group ``keep`` accepts; ``run_s`` is the wall time those
    jobs ran in."""
    a = parse_event_log(log_dir, keep)
    mb = 1024 * 1024
    return {
        "execute.jobs": (a["jobs"], "count"),
        "execute.stages": (a["stages"], "count"),
        "execute.tasks": (a["tasks"], "count"),
        "execute.task_s": (a["task_ms"] / 1000, "s"),
        "execute.busy_share": (a["task_ms"] / 1000 / max(run_s * cores, 1e-9), "ratio"),
        "execute.shuffle_write_mb": (a["shuffle_write"] / mb, "MB"),
        "execute.shuffle_read_mb": (a["shuffle_read"] / mb, "MB"),
        "execute.spill_mb": (a["spill"] / mb, "MB"),
        "execute.jvm_gc_s": (a["gc_ms"] / 1000, "s"),
        "sources.read_mb": (a["input_bytes"] / mb, "MB"),
        "sources.read_rows": (a["input_records"], "count"),
        "sources.read_files": (a["files_read"], "count"),
    }
