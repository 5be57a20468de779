"""Measurement helpers of the CDC benchmark: statistics, spans, Spark job
counting, RSS sampling, the open-loop release schedule and the machine
stamp.  Nothing here imports the program under test."""

from __future__ import annotations

import contextlib
import json
import os
import platform
import shutil
import signal
import subprocess
import threading
import time


# --------------------------------------------------------------------- #
# statistics
# --------------------------------------------------------------------- #
def percentile(values, q: float) -> tuple[float, int]:
    """(q-th percentile by linear interpolation between closest ranks,
    sample count).  ``q`` is in [0, 100]; an empty sample is an error."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def median(values) -> float:
    return percentile(values, 50)[0]


# --------------------------------------------------------------------- #
# spans
# --------------------------------------------------------------------- #
class Tracer:
    """In-memory span recorder.  A span has a name, wall-clock start and
    end (seconds), the id of the span that caused it (the innermost span
    open on the same thread, or an explicit parent) and a trace id (the
    epoch it belongs to).  Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, trace_id=None, parent=None) -> int:
        """Record a finished span with an explicit parent; returns its id."""
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "trace_id": trace_id}
            )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, trace_id=None):
        """Time the block as a child of the innermost open span of this
        thread; yields the span id (None when disabled)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": time.time(), "end": None,
                 "parent": parent, "trace_id": trace_id}
            )
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time": self_time_rollup(self.spans),
                       **(extra or {})}, f, indent=1)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part of it its children cover
    (children clipped to the parent's interval; overlapping children are
    counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - _covered(clipped)
    return out


def self_time_rollup(spans: list[dict]) -> dict[str, dict]:
    """Span name → {count, total_s, self_s}, closed spans only."""
    closed = [s for s in spans if s["end"] is not None]
    st = self_times(closed)
    out: dict[str, dict] = {}
    for s in closed:
        r = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        r["count"] += 1
        r["total_s"] += s["end"] - s["start"]
        r["self_s"] += st[s["id"]]
    return out


# --------------------------------------------------------------------- #
# Spark job / task counting
# --------------------------------------------------------------------- #
class JobCounter:
    """Exact job and task counts of a block of driver code: the block runs
    under its own Spark job group, read back through ``statusTracker()``.
    Groups are per thread, so a block counts only its own thread's jobs."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0

    @contextlib.contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{label}-{self._n}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, gid: str) -> tuple[int, int]:
        """(jobs, tasks run) of a finished group; a stage shared by several
        jobs (a reused shuffle) is counted once, skipped stages add no
        tasks."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks + info.numFailedTasks
        return len(jobs), tasks


# --------------------------------------------------------------------- #
# process tree: stopping the JVM and its workers before exit
# --------------------------------------------------------------------- #
def _proc_table() -> dict[int, tuple[int, str]]:
    """pid → (parent pid, command name) of every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may hold spaces
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(d)] = (int(fields[1]), stat[stat.index("(") + 1 : stat.rindex(")")])
    return out


def descendants(root_pid: int, table=None) -> set[int]:
    """Pids of every process below ``root_pid``."""
    table = _proc_table() if table is None else table
    tree, frontier = set(), [root_pid]
    while frontier:
        p = frontier.pop()
        for c, (pp, _) in table.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie child of ours is reaped here."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass  # not our child: it is reaped by whoever adopted it
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] not in "ZX"


def end_processes(pids, timeout: float = 30.0) -> None:
    """Wait until every pid has ended: ``timeout`` seconds of grace, then
    SIGTERM, then SIGKILL.  Returns only when none of them runs."""
    pending = set(pids)
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pending:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, sig)
        deadline = time.monotonic() + (timeout if sig is None else 10.0)
        while True:
            pending = {p for p in pending if _alive(p)}
            if not pending or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if not pending:
            return
    raise RuntimeError(f"processes {sorted(pending)} survived SIGKILL")


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    every process it started (Python workers, helpers) have ended.

    ``spark.stop()`` alone leaves the gateway JVM running until this
    process exits, and it dies after us; here it is told to exit by closing
    its stdin (the gateway exits on EOF) and waited for."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        end_processes(tree | descendants(os.getpid()), timeout)


# --------------------------------------------------------------------- #
# resident memory of the process tree
# --------------------------------------------------------------------- #
def _tree_rss_bytes(root_pid: int) -> dict[str, int]:
    """RSS of ``root_pid`` and its java and python descendants, summed per
    command name.  Other descendants are short-lived helpers the JVM
    forks (chmod, readlink); between fork and exec they report the JVM's
    whole RSS as their own, so counting them would double the JVM."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = _proc_table()
    tree = {root_pid} | descendants(root_pid, table)
    out: dict[str, int] = {}
    for p in tree:
        name = table[p][1] if p in table else ""
        if p != root_pid and name != "java" and not name.startswith("python"):
            continue
        try:
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        out[name] = out.get(name, 0) + rss
    return out


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (Python driver, JVM, Python workers) every ``period`` seconds; keeps
    the peak of the sum and, for diagnosis, the peak per command name."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        by = _tree_rss_bytes(os.getpid())
        self.peak = max(self.peak, sum(by.values()))
        for k, v in by.items():
            self.peak_by_command[k] = max(self.peak_by_command.get(k, 0), v)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


# --------------------------------------------------------------------- #
# open-loop release schedule
# --------------------------------------------------------------------- #
def release_file(src: str, dest_dir: str, mtime: float) -> str:
    """Publish ``src`` into a watched directory the way ``spool_dump``
    does: write under a dot-prefixed name (Spark's listing skips it),
    stamp the mtime, then rename into place."""
    name = os.path.basename(src)
    tmp = os.path.join(dest_dir, f".{name}.tmp")
    final = os.path.join(dest_dir, name)
    shutil.copyfile(src, tmp)
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, final)
    return final


class ReleaseSchedule:
    """Releases items on a fixed schedule (item i due at t0 + i·interval)
    regardless of how the system under test is doing, and records how late
    each release ran.  ``release`` is called with the item; ``clock`` and
    ``sleep`` are injectable for tests."""

    def __init__(self, items, interval: float, release, clock=time.time, sleep=time.sleep):
        self.items = list(items)
        self.interval = float(interval)
        self.release = release
        self.clock = clock
        self.sleep = sleep
        self.t0: float | None = None
        self.due: list[float] = []
        self.done: list[float] = []

    def run(self, t0: float, stop: threading.Event | None = None) -> None:
        self.t0 = t0
        for i, item in enumerate(self.items):
            due = t0 + i * self.interval
            wait = due - self.clock()
            if wait > 0:
                self.sleep(wait)
            if stop is not None and stop.is_set():
                return
            self.release(item)
            self.due.append(due)
            self.done.append(self.clock())

    def lateness(self) -> list[float]:
        """Seconds each release completed after it was due."""
        return [d - u for u, d in zip(self.due, self.done)]


# --------------------------------------------------------------------- #
# machine stamp and sizes
# --------------------------------------------------------------------- #
def machine_stamp(nproc: int) -> dict:
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": nproc,
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def file_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths if os.path.exists(p))
