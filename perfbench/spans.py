"""Measurement plumbing: spans, Spark job attribution, process-tree
memory and the host-phase stamp.

Spans are recorded from outside the package, around each public call
the benchmark makes. With tracing off a span only keeps its duration
(two clock reads); with tracing on it also tags the Spark jobs it
submits through ``setJobGroup`` so the event log and the status
tracker can charge jobs, stages, tasks, executor CPU and shuffle bytes
to the layer that caused them.
"""

from __future__ import annotations

import ctypes
import glob
import json
import os
import signal
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_cpu_s",
    "shuffle_write_mb",
    "python_tasks",
)

# Stage operator names that mean a Python runner executed the tasks.
_PYTHON_MARKERS = ("Python", "Pandas", "Arrow")


class Tracer:
    """Spans kept in memory, written out by ``dump``."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.phase = "setup"

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "phase": self.phase,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            sc.setJobGroup(f"pb{sid}", name, interruptOnCancel=False)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                rec["failed_tasks"] = _failed_tasks(sc, f"pb{sid}")
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    sc.setJobGroup(f"pb{parent['id']}", parent["name"], False)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def durations(self, name: str, phase: str = "op") -> dict:
        """Sum of ``name`` span time per op id (or per setup rep)."""
        out: dict = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and s["phase"] == phase:
                out[s["op"]] += s["end"] - s["start"]
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _failed_tasks(sc, group: str) -> int:
    """Failed task attempts of the group's jobs, from the status
    tracker (stages it no longer retains count as 0)."""
    st = sc.statusTracker()
    n = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                n += stage.numFailedTasks
    return n


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> list[dict]:
    """One record per Spark job: its job group, submission time (s),
    and the stages, tasks, executor CPU, shuffle bytes written and
    Python-runner tasks of the stages it ran. Read after the
    SparkContext has stopped (the log is flushed on stop)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_python: dict[int, bool] = {}
    stage_tasks: dict[int, int] = defaultdict(int)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    rec = dict.fromkeys(COUNTERS, 0)
                    rec["jobs"] = 1
                    rec["group"] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                    rec["submitted"] = ev["Submission Time"] / 1000
                    jobs[ev["Job ID"]] = rec
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    jobs[stage_job[sid]]["stages"] += 1
                    names = " ".join(
                        r.get("Name", "") + r.get("Scope", "")
                        for r in info.get("RDD Info", ())
                    )
                    stage_python[sid] = any(m in names for m in _PYTHON_MARKERS)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    rec = jobs[stage_job[sid]]
                    rec["tasks"] += 1
                    stage_tasks[sid] += 1
                    m = ev.get("Task Metrics") or {}
                    rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_mb"] += (
                        sw.get("Shuffle Bytes Written", 0) / 1e6
                    )
    # a stage's completion event follows its tasks: resolve python
    # stages once the whole log is read
    for sid, n in stage_tasks.items():
        if stage_python.get(sid):
            jobs[stage_job[sid]]["python_tasks"] += n
    return list(jobs.values())


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Set ``span`` (a span id) on every job record. A job carries the
    job group of the span that submitted it; a job with no group was
    submitted from a thread the package started itself, and goes to
    the innermost span open at its submission time."""
    by_group = {f"pb{s['id']}": s["id"] for s in spans}
    for job in jobs:
        sid = by_group.get(job["group"])
        if sid is None:
            open_ = [
                s for s in spans if s["start"] <= job["submitted"] <= s["end"]
            ]
            sid = max(open_, key=lambda s: s["start"])["id"] if open_ else None
        job["span"] = sid


class TreeRss:
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers), sampled from /proc on a daemon thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self.peak_kb = max(self.peak_kb, total)


def descendants() -> list[int]:
    """Pids of every live process below this one, read from /proc."""
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            children[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return out


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so that
    Python workers outliving the JVM stay in its tree and can be killed
    and waited for (Linux ``PR_SET_CHILD_SUBREAPER``; a no-op elsewhere)."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_process_tree(grace_s: float = 20.0) -> None:
    """Stop Spark and everything it started, and wait until each is gone.

    ``SparkSession.stop`` leaves the JVM running until the Python process
    exits; the JVM then quits on its own, after this process has ended.
    Here the gateway is shut down and the JVM's stdin closed (which makes
    it exit), the JVM is waited for, and any process still below this
    one (Python workers) gets SIGTERM, then SIGKILL after ``grace_s``.
    """
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # the JVM may be gone already; it is killed below
            pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=grace_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        pids = descendants()
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.1)


def cpu_ref_s(reps: int = 3) -> float:
    """Median time of a fixed single-thread Python loop: the box's
    current speed, to tell a slow machine phase from a regression."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def host_stamp() -> dict:
    return {"cpu_ref_s": cpu_ref_s(), "load1m": os.getloadavg()[0]}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total
