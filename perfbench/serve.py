"""Streamed serving, one part of ``dedup_serve``: one client writes
one-query files into the directory a file-source stream watches and
waits for ``serve_query_stream`` to answer each before writing the next
(closed loop); a query's latency runs from the start of its file write
to its answer."""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from . import check, gen, probe
from .harness import median

ROWS = 2_000
DIM = 384
K = 10
MAX_QUERIES = 512
ANSWER_S = 30.0
WARMUP_QUERIES = 4


class Server:
    def __init__(self, run, work: str, seed: int):
        self.run, self.work = run, work
        self.store_file = gen.vector_store(os.path.join(work, "in"), seed, ROWS, DIM)
        self.qvecs = gen.query_vectors(seed, MAX_QUERIES + WARMUP_QUERIES, DIM)
        self.store_dir = os.path.join(work, "store")
        self.qdir = os.path.join(work, "queries")
        os.makedirs(self.qdir)
        self.lock = threading.Lock()
        self.results: dict[int, list] = {}
        self.finished: dict[int, float] = {}
        self.batch_sizes: list[int] = []
        self.asked: list[tuple[dict, int]] = []
        self.query = None

    def build(self, spark) -> None:
        """One store build: ``from_df``, ``save``, ``load``."""
        import otters_spark as ot

        tr = self.run.tracer
        with tr.span("store.from_df"):
            built = ot.MetaStore.from_df(spark.read.parquet(self.store_file), "embedding", "vec_id")
        with tr.span("store.save"):
            built.save(self.store_dir)
        with tr.span("store.load"):
            self.store = ot.MetaStore.load(spark, self.store_dir)

    def _on_batch(self, topk, batch_id) -> None:
        rows = topk.collect()
        now = time.perf_counter()
        by_query: dict[int, list] = {}
        for r in rows:
            by_query.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
        with self.lock:
            self.results.update(by_query)
            self.batch_sizes.append(len(by_query))
            for q in by_query:
                self.finished[q] = now

    def _wait_for(self, qid: int, deadline: float) -> bool:
        while time.perf_counter() < deadline:
            with self.lock:
                if qid in self.finished:
                    return True
            time.sleep(0.005)
        return False

    def start(self, spark) -> None:
        """Start the stream on the last built store and answer the
        warm-up queries."""
        from otters_spark.streaming.serving import serve_query_stream

        stream = spark.readStream.schema("query_id long, qvec array<float>").parquet(self.qdir)
        self.query = serve_query_stream(
            stream, self.store, self._on_batch, os.path.join(self.work, "ckpt"), metric="cosine", k=K
        )
        for i in range(WARMUP_QUERIES):
            qid = -(i + 1)
            gen.query_file(os.path.join(self.qdir, f"warm-{i}.parquet"), qid, self.qvecs[MAX_QUERIES + i])
            if not self._wait_for(qid, time.perf_counter() + 120):
                raise TimeoutError("warm-up query not answered")

    def begin(self) -> None:
        """Mark the start of the measured window."""
        if self.run.trace:
            self.before = self.run.counters.read(str(self.query.runId))
        self.n_progress = len(self.query.recentProgress)
        self.n_batches = len(self.batch_sizes)

    def ask(self) -> None:
        """One served query, as one op of kind ``serve``."""
        j = len(self.asked)
        if j >= MAX_QUERIES:
            raise RuntimeError(f"more than {MAX_QUERIES} queries in one run")

        def fn():
            gen.query_file(os.path.join(self.qdir, f"q-{j:06d}.parquet"), j, self.qvecs[j])
            if not self._wait_for(j, time.perf_counter() + ANSWER_S):
                raise TimeoutError(f"not answered within {ANSWER_S:.0f} s")

        self.asked.append((self.run.op(f"query-{j}", "serve", fn), j))

    def end(self) -> None:
        """Close the window and stop the stream."""
        self.progress = self.query.recentProgress[self.n_progress:]
        self.after = self.run.counters.read(str(self.query.runId)) if self.run.trace else None
        self.stop()

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def verify(self) -> None:
        """Every answer against numpy exact top-k."""
        with self.lock:
            answered = dict(self.results)
        ids = np.arange(ROWS, dtype=np.int64)
        x = gen.matrix(pq.read_table(self.store_file)["embedding"])
        for rec, j in self.asked:
            if not rec["ok"]:
                continue
            got = sorted(answered[j], key=lambda r: -r[1])
            why = check.topk_mismatch([g[0] for g in got], [g[1] for g in got], ids,
                                      check.scores(x, self.qvecs[j], "cosine"), K, ascending=False)
            if why:
                self.run.fail(rec, why)

    def layers(self) -> dict:
        tr = self.run.tracer
        busy = [p for p in self.progress if p["numInputRows"] > 0]
        dur = [p["durationMs"] for p in busy]
        served = max(sum(1 for rec, _ in self.asked if rec["ok"]), 1)
        out = {
            "store.from_df_s": median(tr.durations("store.from_df")),
            "store.save_s": median(tr.durations("store.save")),
            "store.load_s": median(tr.durations("store.load")),
            "serve.trigger_s": median(d.get("triggerExecution", 0) / 1e3 for d in dur),
            "serve.add_batch_s": median(d.get("addBatch", 0) / 1e3 for d in dur),
            "serve.overhead_s": median(
                (d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3 for d in dur
            ),
            "serve.queries_per_trigger": float(np.mean(self.batch_sizes[self.n_batches:] or [0])),
            "serve.triggers": len(self.batch_sizes) - self.n_batches,
            "vector.pairs_scored": float(ROWS),
        }
        out.update(probe.store_layout(self.store_dir))
        out["store.space_amp"] = out["store.bytes"] / (ROWS * (DIM * 4 + 8))
        if self.after is not None:
            delta = {k: self.after[k] - self.before[k] for k in self.before if k != "job_spans"}
            out["topk.shuffle_records"] = delta["shuffle_write_records"] / served
            cpu = delta["executor_cpu_s"]
            out["vector.pairs_per_cpu_s"] = ROWS * served / cpu if cpu else 0.0
            for k in ("executor_cpu_s", "executor_run_s", "gc_s", "input_bytes",
                      "shuffle_write_bytes", "fetch_wait_s"):
                out[f"spark.{k}"] = delta[k] / served
        return out
