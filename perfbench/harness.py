"""What every workload shares: the op loop with its timing, CPU and
error accounting, the optional per-op Spark counters, and the
end-to-end metrics computed from the op records."""

from __future__ import annotations

import os
import statistics
import time
import traceback
from contextlib import contextmanager

from . import probe

# an op that lost this share of the machine's CPU time to hypervisor
# steal while it ran measured the neighbours, not the engine
QUIET_STEAL = 0.05


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    """One benchmark run: its op records, spans and set-up time. With
    ``trace``, the workload traces every other op of each kind (Spark
    counters read after the op); the other ops run exactly as with
    tracing off, so the two halves give the tracing overhead."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.tracer = probe.Tracer()
        self.counters: probe.SparkCounters | None = None
        self.jvm_pid: int | None = None
        self.ops: list[dict] = []
        self.setup_s = 0.0
        self.session_s = 0.0
        self.host: probe.Host | None = None
        self.host_stats: dict = {}
        # op kinds whose latencies make query_p50_s and batch_p50_s
        self.query_kinds: set[str] = set()
        self.batch_kinds: set[str] = set()
        # wall seconds of each phase of the run, for the context line
        self.phases: dict[str, float] = {}

    def attach(self, spark) -> None:
        if self.trace:
            self.counters = probe.SparkCounters(spark)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def start_window(self) -> None:
        self.host = probe.Host()
        self._window0 = time.perf_counter()

    def end_window(self) -> None:
        self.phases["window"] = time.perf_counter() - self._window0
        self.host_stats = self.host.finish()
        self.peak_rss_mb = probe.peak_rss_mb([os.getpid(), self.jvm_pid])

    def op(self, name: str, kind: str, fn, traced: bool = False):
        """Run ``fn()`` as one timed op. An exception counts the op
        as failed and is reported by name; the run goes on."""
        traced = traced and self.trace
        group = f"op-{len(self.ops)}"
        rec = {"op": len(self.ops), "name": name, "kind": kind, "traced": traced, "ok": True}
        if traced:
            self.counters.begin(group)
        cpu0, steal0 = probe.tree_cpu_s(), probe.steal_s()
        try:
            with self.tracer.span("op", op=rec["op"], kind=kind) as sp:
                rec["value"] = fn()
        except Exception as e:  # an op failure is a measured outcome
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {e}".splitlines()[0][:300]
            traceback.print_exc()
        finally:
            if traced:
                self.counters.end()
        rec["latency"] = sp["end"] - sp["start"]
        rec["cpu"] = probe.tree_cpu_s() - cpu0
        rec["steal"] = probe.steal_s() - steal0
        if traced:
            rec["spark"] = self.counters.read(group)
            for s, e in rec["spark"]["job_spans"]:
                self.tracer.add("spark.job", s, e, parent=self._parent_of_jobs(sp), op=rec["op"])
        self.ops.append(rec)
        return rec

    def _parent_of_jobs(self, op_span: dict) -> int:
        """The op's ``plan.execute`` span if it has one (Spark jobs run
        inside it), else the op span itself."""
        for s in self.tracer.spans[op_span["id"]:]:
            if s["name"] == "plan.execute" and s["op"] == op_span["op"]:
                return s["id"]
        return op_span["id"]

    def fail(self, rec: dict, why: str) -> None:
        """Mark an op whose answer was wrong."""
        if rec["ok"]:
            rec["ok"] = False
            rec["error"] = "wrong answer: " + why

    # --- metrics --------------------------------------------------------

    def plain_ops(self, kind: str | None = None) -> list[dict]:
        return [r for r in self.ops if not r["traced"] and (kind is None or r["kind"] == kind)]

    def traced_ops(self, kind: str | None = None) -> list[dict]:
        return [r for r in self.ops if r["traced"] and (kind is None or r["kind"] == kind)]

    def steady(self, ops: list[dict]) -> list[dict]:
        """The ops the end-to-end latencies use: every op that lost less
        than ``QUIET_STEAL`` of the machine's CPU time to hypervisor
        steal while it ran, and never fewer than the least-stolen half.
        On a quiet machine that is every op; the ops left out are
        counted in ``harness.steady_ops_frac`` and listed, with their
        steal, in the context line."""
        ncpu = os.cpu_count() or 1

        def stolen(r):
            return r["steal"] / max(r["latency"] * ncpu, 1e-9)

        ranked = sorted(ops, key=stolen)
        keep = max((len(ops) + 1) // 2, sum(1 for r in ops if stolen(r) < QUIET_STEAL))
        return ranked[:keep]

    def timed(self, ops: list[dict], kinds: set[str]) -> list[dict]:
        """The completed ops of ``kinds``."""
        return [r for r in ops if r["ok"] and r["kind"] in kinds]

    def latency_ops(self) -> list[dict]:
        return self.timed(self.plain_ops(), self.query_kinds | self.batch_kinds)

    def end_to_end(self) -> dict:
        """Median latency of the steady untraced queries and batch ops
        (all ops with tracing off)."""
        plain = self.plain_ops()
        return {
            "setup_s": self.setup_s,
            "query_p50_s": median(r["latency"] for r in self.steady(self.timed(plain, self.query_kinds))),
            "batch_p50_s": median(r["latency"] for r in self.steady(self.timed(plain, self.batch_kinds))),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def cpu_per_op(self) -> dict:
        """JVM + Python CPU seconds per steady untraced op, beside the
        wall time of the same ops: wall up with CPU flat reads as
        contention."""
        ops = self.steady(self.latency_ops())
        return {"harness.cpu_s_per_op": sum(r["cpu"] for r in ops) / max(len(ops), 1)}

    def trace_overhead(self) -> dict:
        """Traced ops against untraced ops of the same run, as a share."""
        def ratio(a: float, b: float) -> float:
            return a / b - 1.0 if b > 0 and a > 0 else 0.0

        out = {}
        for name, kinds in (("query_p50_s", self.query_kinds), ("batch_p50_s", self.batch_kinds)):
            out[f"harness.trace_overhead.{name}"] = ratio(
                median(r["latency"] for r in self.timed(self.traced_ops(), kinds)),
                median(r["latency"] for r in self.timed(self.plain_ops(), kinds)),
            )
        return out

    def spark_per_op(self) -> dict:
        """Mean Spark counters per traced op."""
        ops = [r["spark"] for r in self.traced_ops()]
        keys = ("executor_cpu_s", "executor_run_s", "gc_s", "input_bytes",
                "shuffle_write_bytes", "fetch_wait_s")
        return {f"spark.{k}": (sum(o[k] for o in ops) / len(ops) if ops else 0.0) for k in keys}

    def health(self) -> dict:
        lat = self.latency_ops()
        return {
            "harness.steady_ops_frac": len(self.steady(lat)) / len(lat) if lat else 0.0,
            "harness.steal_s": self.host_stats.get("steal_s", 0.0),
            "harness.load_avg": max(
                self.host_stats.get("load_avg_start", 0.0), self.host_stats.get("load_avg_end", 0.0)
            ),
        }

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failures(self) -> list[dict]:
        return [r for r in self.ops if not r["ok"]]
