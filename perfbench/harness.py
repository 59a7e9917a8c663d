"""Measurement plumbing shared by the workloads: run environment, Spark
session, process-tree RSS sampling, spans and the Spark event-log
reader."""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def program_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "indu_doc_transformer_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Run conditions: local[nproc] through the program's own session
    factory. Spark's scratch, Python temp files and the Python workers'
    import path all stay inside the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT if not path else f"{ROOT}{os.pathsep}{path}"


def start_session(event_log_dir: str | None):
    from indu_doc_transformer_spark.plans.session import get_spark

    extra = None
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            # plain JSON lines for the stdlib reader, one file per app
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_gateway(timeout: float = 30.0) -> None:
    """After ``spark.stop()``: end the JVM that PySpark launched and wait
    until it and every Python worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = descendants(os.getpid())  # workers outlive the JVM briefly
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def cpu_jiffies() -> tuple[int, int]:
    """(runnable, stolen) CPU jiffies of all CPUs so far, from
    /proc/stat. Runnable is busy plus stolen: steal accrues only while a
    CPU has work and the hypervisor runs another guest instead."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq + steal, steal


class Clock:
    """Times one interval. ``wall`` is its wall time and ``steal`` the
    share of the runnable CPU time the hypervisor gave to
    other guests meanwhile; ``seconds`` is the wall less that share, the
    time the interval would have taken with the CPUs to itself. On a
    shared host steal swings by tens of percent within minutes; on a
    dedicated one it is 0 and ``seconds == wall``."""

    def __init__(self):
        self._t0, self._j0 = time.perf_counter(), cpu_jiffies()

    def stop(self) -> float:
        self.wall = time.perf_counter() - self._t0
        runnable, stolen = (b - a for a, b in zip(self._j0, cpu_jiffies()))
        self.steal = stolen / runnable if runnable > 0 else 0.0
        self.seconds = self.wall * (1.0 - self.steal)
        return self.seconds


def host_info(spark) -> dict:
    import pyarrow

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": cores(),
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "master": spark.sparkContext.master,
    }


# ------------------------------------------------------------------
# peak RSS of the Spark JVM and its Python workers
# ------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root_pid: int) -> list[int]:
    kids = _children()
    todo, out = list(kids.get(root_pid, [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Summed VmRSS of every descendant of ``root_pid`` (the JVM that
    PySpark launched, the Python worker daemon and its workers)."""
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process-tree RSS every ``period`` seconds on a
    background thread; ``peak`` is the largest sum seen."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


# ------------------------------------------------------------------
# spans
# ------------------------------------------------------------------


class Tracer:
    """In-memory spans around the benchmark's calls into the program.
    Each span runs its Spark jobs under a job group of its own, so the
    event log attributes every job to exactly one (innermost) span.
    Disabled, a span is a bare context manager that records nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def begin(self, name: str) -> dict | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"pb{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.spark.sparkContext.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        return rec

    def end(self, rec: dict | None) -> None:
        if rec is None:
            return
        rec["end"] = time.time()
        if not self._stack or self._stack[-1] is not rec:
            raise RuntimeError(f"span {rec['name']} ended out of order")
        self._stack.pop()
        sc = self.spark.sparkContext
        if self._stack:
            parent = self._stack[-1]
            sc.setJobGroup(parent["group"], parent["name"])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        rec = self.begin(name)
        try:
            yield rec
        finally:
            self.end(rec)


def subtree(spans: list[dict], rec: dict) -> list[dict]:
    """``rec`` and every span under it."""
    ids, out = {rec["id"]}, [rec]
    for s in spans[rec["id"] + 1 :]:
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


# ------------------------------------------------------------------
# Spark event log
# ------------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


class EventLog:
    """Per-job-group counters from one uncompressed Spark event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str | None] = {}
        self.stages: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(
            sid,
            {
                "tasks": [],
                "gc_ms": 0,
                "spill": 0,
                "shuffle_write": 0,
                "records_read": 0,
                "peak_execution_memory": 0,
                "bytes_written": 0,
                "py_ms": 0,
                "py_sent": 0,
                "py_back": 0,
                "submitted": None,
                "completed": None,
            },
        )

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs[e["Job ID"]] = {"group": group, "start": e["Submission Time"], "end": None}
            for sid in e["Stage IDs"]:
                self.stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self._stage(info["Stage ID"])
            st["submitted"] = info.get("Submission Time")
            st["completed"] = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(e["Stage ID"])
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            st["tasks"].append(ti["Finish Time"] - ti["Launch Time"])
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            st["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st["peak_execution_memory"] = max(
                st["peak_execution_memory"], tm.get("Peak Execution Memory", 0)
            )
            st["records_read"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
            st["bytes_written"] += (tm.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
            for a in ti.get("Accumulables") or []:
                name = a.get("Name")
                key = {_PY_TIME: "py_ms", _PY_SENT: "py_sent", _PY_BACK: "py_back"}.get(
                    name
                )
                if key is not None:
                    st[key] += int(a.get("Update") or 0)

    def first_job_s(self, groups: set[str]) -> float | None:
        """Submission time (epoch seconds) of the first job of ``groups``."""
        starts = [j["start"] for j in self.jobs.values() if j["group"] in groups]
        return min(starts) / 1000 if starts else None

    def totals(self, groups: set[str]) -> dict:
        """Summed counters over every stage run by a job of ``groups``,
        the largest task peak of execution memory, the wall time covered
        by at least one of their jobs, and the task skew (max/median task
        time) of the longest of those stages."""
        sids = [s for s, g in self.stage_group.items() if g in groups]
        keys = ("gc_ms", "spill", "shuffle_write", "records_read", "bytes_written",
                "py_ms", "py_sent", "py_back")
        out = {k: 0 for k in keys}
        longest, longest_ms = None, -1
        out["peak_execution_memory"] = 0
        for sid in sids:
            st = self.stages.get(sid)
            if st is None or not st["tasks"]:
                continue  # skipped stage (shuffle output reused)
            for k in keys:
                out[k] += st[k]
            out["peak_execution_memory"] = max(
                out["peak_execution_memory"], st["peak_execution_memory"]
            )
            if st["submitted"] and st["completed"]:
                dur = st["completed"] - st["submitted"]
                if dur > longest_ms:
                    longest, longest_ms = st, dur
        jobs = sorted(
            (j["start"], j["end"] or j["start"])
            for j in self.jobs.values()
            if j["group"] in groups
        )
        # wall time covered by at least one running job (ms)
        busy, cur_lo, cur_hi = 0, None, None
        for lo, hi in jobs:
            if cur_hi is None or lo > cur_hi:
                busy += 0 if cur_hi is None else cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        out["job_busy_ms"] = busy + (0 if cur_hi is None else cur_hi - cur_lo)
        if longest is not None:
            med = statistics.median(longest["tasks"])
            out["task_skew"] = max(longest["tasks"]) / med if med > 0 else 1.0
        else:
            out["task_skew"] = 1.0
        return out


def find_event_log(event_log_dir: str) -> str:
    logs = [os.path.join(event_log_dir, p) for p in os.listdir(event_log_dir)]
    logs = [p for p in logs if os.path.isfile(p) and not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log, found {logs}")
    return logs[0]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3
