"""Measurement helpers: process-tree CPU and memory from /proc, host
contention (steal, load average), in-memory spans, and per-operation
Spark counters read from the driver's status store."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while listing
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants (the JVM and its Python
    workers)."""
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live process tree."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / _TICK


def peak_rss_mb(pids) -> float:
    """Sum of peak resident set sizes (VmHWM) of ``pids``. Only named
    processes count: a child the JVM forks to run a command reports the
    JVM's pages as its own until it execs."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def load_avg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def store_layout(path: str) -> dict:
    """Data files, bytes and row groups of a saved store, from the
    files' footers."""
    import pyarrow.parquet as pq

    files = [os.path.join(path, f) for f in os.listdir(path)
             if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return {
        "store.files": len(files),
        "store.bytes": sum(os.path.getsize(f) for f in files),
        "store.row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups for f in files),
    }


class Host:
    """Contention over a measured window: steal delta and load average
    at start and end."""

    def __init__(self):
        self.steal0, self.load0 = steal_s(), load_avg()

    def finish(self) -> dict:
        return {
            "steal_s": steal_s() - self.steal0,
            "load_avg_start": self.load0,
            "load_avg_end": load_avg(),
        }


class Tracer:
    """Spans kept in memory (name, start, end, parent, op id, attrs) and
    written out once at exit."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op if op is not None or not self._stack else self.spans[self._stack[-1]]["op"],
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, op, **attrs):
        """Record a span measured elsewhere, such as a Spark job."""
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": parent, "op": op,
             "start": start, "end": end, **attrs}
        )

    def durations(self, name: str, ops=None) -> list[float]:
        """Durations of the spans ``name``, limited to the op ids
        ``ops`` when given (``{None}`` selects spans outside any op)."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and (ops is None or s["op"] in ops)]

    def self_times(self, name: str) -> list[float]:
        """Span time minus the part of it that child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append(s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


_STAGE_FIELDS = {
    # StageData accessor -> (counter name, scale to seconds/bytes/count)
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "executorRunTime": ("executor_run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleWriteRecords": ("shuffle_write_records", 1),
    "shuffleFetchWaitTime": ("fetch_wait_s", 1e-3),
    "numTasks": ("tasks", 1),
}


class SparkCounters:
    """Reads what the driver's status store holds for one job group:
    jobs, stages, tasks and the stage task metrics. Runs no Spark job."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        # perf_counter - epoch offset, to place job times on span clocks
        self._clock = time.perf_counter() - time.time()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def read(self, group: str) -> dict:
        # listener events arrive asynchronously; drain them so the
        # group's last job and stages are in the store
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = {name: 0.0 for name, _ in _STAGE_FIELDS.values()}
        out.update(jobs=0, stages=0, job_spans=[])
        for jid in tracker.getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_spans"].append(
                    (sub.get().getTime() / 1e3 + self._clock,
                     done.get().getTime() / 1e3 + self._clock)
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                try:
                    stage = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # planned but never submitted
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for attr, (name, scale) in _STAGE_FIELDS.items():
                    out[name] += getattr(stage, attr)() * scale
        return out
