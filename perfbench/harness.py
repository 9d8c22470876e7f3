"""Shared machinery of the benchmark: process clock, memory sampler, Spark
session, span tracer, Spark job counting and the result line.

Nothing here starts a thread, a process or a JVM at import time; each
workload module calls what it needs from ``run.py``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")  # generated inputs, oracle answers
OUT_DIR = os.path.join(BENCH_DIR, ".out")      # trace JSONL


def _seconds_since_process_start() -> float:
    """Wall seconds since this process was exec'd (10 ms resolution), read
    from /proc so that interpreter start and imports count as set-up."""
    with open("/proc/self/stat") as fh:
        # the command name may hold spaces; fields restart after ')'
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of proc(5)
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Clock:
    """perf_counter readings re-based to the process start."""

    def __init__(self) -> None:
        self.origin = time.perf_counter() - _seconds_since_process_start()
        self.excluded = 0.0  # input generation, left out of set-up

    def now(self) -> float:
        return time.perf_counter() - self.origin

    @contextlib.contextmanager
    def excluded_from_setup(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t0

    def setup_s(self) -> float:
        return self.now() - self.excluded


# -- memory -----------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def _tree(root: int):
    """``root`` and all its descendants: this Python process, the JVM it
    launched and Spark's Python workers.  A process that exits between
    listing and reading is skipped by the caller."""
    stack, seen = [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        yield pid
        stack.extend(_children(pid))


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of the process tree under ``root``."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue  # exited between listing and reading
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds, user and system, that the process tree under ``root``
    has used: each live process's own time plus that of its children that
    have exited and been reaped (Python workers, for one).  Time the
    hypervisor gives other tenants (steal) is not in it, as it is in wall
    time."""
    ticks = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime .. cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the process tree's resident memory every ``interval`` s on
    one daemon thread and keeps the peak."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB (2**20 bytes)."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak / 2**20


# -- Spark ------------------------------------------------------------------

def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work_dir: str):
    """The engine's own session (``ton_indexer_spark.session.get_spark``)
    at ``local[nproc]``, with every scratch path inside ``work_dir``.

    Spark's Python workers are separate interpreters that see only
    ``PYTHONPATH``, not this process's ``sys.path``: without the repo root
    there, the classify UDF fails with ``ModuleNotFoundError``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM started here (the launcher and the driver) keeps its perf
    # counters in memory instead of /tmp/hsperfdata_<user>/<pid>
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    "-XX:+PerfDisableSharedMem") if o)
    from ton_indexer_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave a JVM behind
            proc.kill()
            proc.wait(timeout=10)


class JobCounter:
    """Spark jobs and tasks run under a job group, read from the status
    tracker (no UI needed).  Used only by traced runs."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    @contextlib.contextmanager
    def group(self, group_id: str, out: dict):
        """Tag the jobs the calling thread submits; on exit store
        ``jobs`` and ``tasks`` (tasks that ran, skipped stages excluded)."""
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            out.update(self._count(group_id))

    def _count(self, group_id: str) -> dict:
        # job-end events reach the status store through the listener bus
        # asynchronously: wait until every job of the group has settled
        deadline = time.monotonic() + 5.0
        while True:
            jobs = [self.tracker.getJobInfo(j)
                    for j in self.tracker.getJobIdsForGroup(group_id)]
            settled = all(j is not None and j.status != "RUNNING" for j in jobs)
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        tasks = 0
        for j in jobs:
            for sid in j.stageIds if j is not None else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "tasks": tasks}


# -- tracing ----------------------------------------------------------------

class Tracer:
    """Spans kept in memory and written as JSONL at exit.

    A span has a name, start and end (seconds since process start), the
    span that encloses it on the same thread, and the id of the request,
    batch or query it serves.  ``enabled=False`` makes every call a no-op
    so untraced runs pay nothing."""

    def __init__(self, clock: Clock, enabled: bool) -> None:
        self.clock = clock
        self.enabled = enabled
        self.recording = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op_id: str | None = None

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def stop(self) -> None:
        """Record no further spans: the checks after the timed region call
        some of the same wrapped functions."""
        self.recording = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.recording:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name,
                   "parent": stack[-1]["id"] if stack else None,
                   "op": self.op_id, "start": self.clock.now(), "end": None}
            rec.update(attrs)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = self.clock.now()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, name_of=None) -> None:
        """Replace ``owner.attr`` by a function that records a span around
        each call.  ``name_of(args, kwargs)`` may refine the span name."""
        if not self.enabled:
            return
        inner = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            span_name = name_of(args, kwargs) if name_of else name
            with tracer.span(span_name):
                return inner(*args, **kwargs)

        traced.__wrapped__ = inner
        setattr(owner, attr, traced)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def own_times(self) -> list[tuple[dict, float]]:
        """(span, self time) for every closed span: its duration minus the
        part that child spans cover (children of one span never overlap,
        since spans nest on a single thread)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = (child_time.get(s["parent"], 0.0)
                                           + s["end"] - s["start"])
        return [(s, s["end"] - s["start"] - child_time.get(s["id"], 0.0))
                for s in self.spans if s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        out: dict[str, float] = {}
        for s, own in self.own_times():
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
            fh.write(json.dumps({"self_times_s": self.self_times()}) + "\n")


# -- statistics and the result line ------------------------------------------

def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict) -> str:
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
