"""Spans and counters recorded by the benchmark around calls into the
system's public functions.

Spans stay in memory (one tuple each) and are written out once, when the
run ends. A disabled tracer records nothing, and a disabled job counter
makes no ``StatusTracker`` calls, so end-to-end runs only pay for entering
two empty context managers per operation.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Nested spans on one thread: (id, parent id, name, start, end)."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[tuple[int, int | None, str, float, float]] = []
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append((sid, parent, name, start, end))

    def total(self, name: str) -> float:
        return sum(e - s for _, _, n, s, e in self.spans if n == name)

    def durations(self, name: str) -> list[float]:
        return [e - s for _, _, n, s, e in self.spans if n == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for sid, parent, name, start, end in self.spans:
                fh.write(json.dumps({
                    "run": self.run_id, "id": sid, "parent": parent,
                    "name": name, "start": start, "end": end,
                }) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans) -> dict[str, float]:
    """Per span name: the summed duration minus the part of each span's
    interval that its children cover (children clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    bounds = {sid: (s, e) for sid, _, _, s, e in spans}
    for sid, parent, _, s, e in spans:
        if parent is not None and parent in bounds:
            ps, pe = bounds[parent]
            if min(e, pe) > max(s, ps):
                children[parent].append((max(s, ps), min(e, pe)))
    out: dict[str, float] = defaultdict(float)
    for sid, _, name, s, e in spans:
        out[name] += (e - s) - _covered(children.get(sid, []))
    return dict(out)


def layer_self_times(spans) -> dict[str, float]:
    """Self time summed per layer: a span named ``a.b.c`` belongs to the
    layer ``a.b`` (the module); spans the benchmark owns (``round...``,
    ``setup...``) and two-part names go to their first part."""
    out: dict[str, float] = defaultdict(float)
    for name, t in self_times(spans).items():
        parts = name.split(".")
        own = parts[0] in ("round", "setup") or len(parts) < 3
        out[parts[0] if own else ".".join(parts[:-1])] += t
    return dict(out)


class JobCounter:
    """Spark jobs and tasks per call, through ``StatusTracker`` and job
    groups. Each ``group()`` runs its body under a fresh job group and
    yields its id; ``count`` later gives the jobs of that group and the
    tasks their stages completed."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.enabled = enabled
        self._n = 0

    @contextmanager
    def group(self):
        if not self.enabled:
            yield None
            return
        gid = f"perfbench-{self._n}"
        self._n += 1
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, gid: str) -> tuple[int, int]:
        ids = self.tracker.getJobIdsForGroup(gid)
        tasks = 0
        for jid in ids:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
        return len(ids), tasks


class StreamProgress:
    """Micro-batch progress of every streaming query, from
    ``spark.streams.addListener``. ``wait_terminated`` blocks until the
    listener has seen a query's termination, which the listener bus posts
    after all of that query's progress events."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        owner = self
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self._done: set[str] = set()
        self._cv = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with owner._cv:
                    owner.progress[str(p.runId)].append({
                        "batch": p.batchId, "rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with owner._cv:
                    owner._done.add(str(event.runId))
                    owner._cv.notify_all()

        self.listener = _Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def wait_terminated(self, run_id: str, timeout: float = 30.0) -> list[dict]:
        with self._cv:
            self._cv.wait_for(lambda: run_id in self._done, timeout)
            return list(self.progress.get(run_id, []))

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


def java_children() -> list[int]:
    """Pids of the java processes this process started: the Spark driver
    JVM."""
    me, out = os.getpid(), []
    for tid in os.listdir(f"/proc/{me}/task"):
        try:
            kids = Path(f"/proc/{me}/task/{tid}/children").read_text().split()
        except OSError:
            continue
        for pid in kids:
            try:
                if Path(f"/proc/{pid}/comm").read_text().strip() == "java":
                    out.append(int(pid))
            except OSError:
                continue
    return out


def jvm_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of the Spark driver JVM."""
    for pid in java_children():
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds ``pid`` has used so far."""
    fields = Path(f"/proc/{pid}/stat").read_text().rpartition(")")[2].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def stop_children(pids: list[int], timeout: float = 20.0) -> None:
    """SIGTERM each process, wait for it to exit, SIGKILL it at the deadline."""
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            continue
        deadline = time.monotonic() + timeout
        while os.waitpid(pid, os.WNOHANG) == (0, 0):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                break
            time.sleep(0.05)
