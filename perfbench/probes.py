"""Observation helpers: spans, /proc sampling and Spark task metrics.

All three only read; none changes what the engine computes.

- :class:`Tracer` keeps spans (name, start, end, parent, run id) in
  memory and gives each span name its self time.
- :class:`ProcSampler` reads CPU time and RSS of the JVM and of its
  Python worker processes from ``/proc`` (psutil is not needed).
- :func:`group_metrics` reads task metrics of one Spark job group from
  the status store, which works with the UI disabled, and
  :func:`jvm_gc_seconds` the JVM's cumulative GC time.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from typing import Dict, List, Optional

from py4j.protocol import Py4JJavaError

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# ------------------------------------------------------------- spans --


class Tracer:
    """In-memory spans. Disabled, every call is a no-op."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    def open(self, name: str) -> Optional[int]:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self._stack.append(sid)
        return sid

    def close(self, sid: Optional[int]) -> None:
        if sid is None:
            return
        self.spans[sid]["end"] = time.perf_counter()
        # a span closes its still-open children with it
        while self._stack and self._stack.pop() != sid:
            pass

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def self_times(self, root: Optional[int] = None) -> Dict[str, float]:
        """Span name -> summed self time: each span's duration minus the
        time its direct children cover (children of one span run one
        after another, on one thread). With ``root``, only that span and
        its descendants count."""
        spans = [s for s in self.spans if s["end"] is not None]
        if root is not None:
            inside = {root}
            for s in spans:  # parents are recorded before their children
                if s["parent"] in inside:
                    inside.add(s["id"])
            spans = [s for s in spans if s["id"] in inside]
        child_time: Dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: Dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)


class _Span:
    __slots__ = ("tracer", "name", "sid")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.sid = self.tracer.open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer.close(self.sid)
        return False


# -------------------------------------------------------------- /proc --


def _read_stat(pid: int):
    """(ppid, own cpu ticks, reaped-children cpu ticks) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state; utime/stime/cutime/cstime are stat fields 14-17
    return int(fields[1]), int(fields[11]) + int(fields[12]), \
        int(fields[13]) + int(fields[14])


def _read_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> List[int]:
    children: Dict[int, List[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                children[st[0]].append(int(name))
    out, todo = [], list(children[root])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class ProcSampler:
    """Samples the JVM's Python worker processes every ``interval``
    seconds on a daemon thread. ``peak_rss_mb`` is the largest sum, over
    the workers alive at one sample, of each worker's peak RSS (VmHWM)."""

    def __init__(self, jvm_pid: int, interval: float = 0.5):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_rss_kb = 0
        self.worker_pids: set = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        pids = descendants(self.jvm_pid)
        self.worker_pids.update(pids)
        self.peak_rss_kb = max(self.peak_rss_kb,
                               sum(_read_hwm_kb(p) for p in pids))

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_rss_kb / 1024.0

    def cpu_seconds(self) -> Dict[str, float]:
        """Cumulative CPU seconds of the JVM (its own threads) and of its
        Python workers (live ones plus those already reaped by the
        worker daemon)."""
        jvm = _read_stat(self.jvm_pid)
        py = 0
        for pid in descendants(self.jvm_pid):
            st = _read_stat(pid)
            if st is not None:
                py += st[1] + st[2]
        return {"jvm": (jvm[1] if jvm else 0) / _CLK_TCK, "python": py / _CLK_TCK}


# ------------------------------------------------------ spark metrics --


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def group_metrics(sc, group: str) -> Dict[str, object]:
    """Task metrics summed over every stage of the jobs in job group
    ``group``: shuffle write and spill (MB) and the list of task
    durations (s)."""
    store = sc._jsc.sc().statusStore()
    out = {"shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_s": []}
    seen = set()
    for job in _seq(store.jobsList(None)):
        jg = job.jobGroup()
        if not jg.isDefined() or jg.get() != group:
            continue
        for sid in _seq(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage skipped, never attempted
                continue
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / 2**20
            for task in _seq(store.taskList(sid, st.attemptId(), 100_000)):
                dur = task.duration()
                if dur.isDefined():
                    out["task_s"].append(dur.get() / 1000.0)
    return out


def jvm_gc_seconds(sc) -> float:
    """Cumulative GC time of the JVM over all collectors. In local mode
    the executors run in this JVM, so this includes every task's GC,
    also collections that fall between tasks."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def tree_mb(path: str) -> float:
    """Bytes on disk under ``path`` (regular files), in MB."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total / 2**20
