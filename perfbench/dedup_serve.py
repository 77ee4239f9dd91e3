"""dedup_serve: one client, closed loop, alternating a batch op and two
interactive ops in one session. The batch op is a whole pass of the
corpus dedup pipeline (``dedup.py``); the interactive op is one query
answered by the streaming server (``serve.py``). The stream keeps
polling its directory while a dedup pass runs, as a server that also
runs batch work would."""

from __future__ import annotations

import time

from .dedup import Dedup
from .harness import Run, median
from .serve import Server

# each set-up builds the serving store and runs one dedup pass over the
# warm-up corpus. Passes keep getting faster for about ten passes (3.2 s
# to 2.4 s on a 4-vCPU VM) while the JVM warms up; a third set-up did
# not flatten that within a run's time budget. Every run takes the same
# path down the curve, so its median pass repeats from run to run.
SETUP_REPS = 2
CYCLE = ("dedup", "serve", "serve")


def run(run: Run, work: str, seed: int, seconds: float, start_session) -> dict:
    with run.phase("generate"):
        server = Server(run, work, seed)
        dedup = Dedup(run, work, seed)

    t0 = time.perf_counter()
    spark = start_session()
    run.session_s = time.perf_counter() - t0
    reps = []
    for _ in range(SETUP_REPS):
        r0 = time.perf_counter()
        server.build(spark)
        dedup.warm(spark)
        reps.append(time.perf_counter() - r0)
    try:
        w0 = time.perf_counter()
        server.start(spark)
        run.setup_s = run.session_s + median(reps) + time.perf_counter() - w0
        run.attach(spark)
        run.query_kinds, run.batch_kinds = {"serve"}, {"dedup"}
        server.begin()

        run.start_window()
        deadline = time.perf_counter() + seconds
        i = 0
        # at least one whole cycle, so both kinds have an op
        while i < len(CYCLE) or time.perf_counter() < deadline:
            if CYCLE[i % len(CYCLE)] == "dedup":
                dedup.step(spark)
            else:
                server.ask()
            i += 1
        run.end_window()
        server.end()
    finally:
        server.stop()

    with run.phase("verify"):
        server.verify()
        dedup.verify()
    return {"session.start_s": run.session_s, **server.layers(), **dedup.layers()}
