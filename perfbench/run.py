"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed``;
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run. Every output of the engine is checked
against an exact answer outside the timed region.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "ingest_search": "perfbench.search",
    "dedup_serve": "perfbench.dedup_serve",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop(spark, probe) -> None:
    """Stop Spark and wait until the JVM and every process it started
    have exited; the gateway JVM exits when its stdin closes."""
    children = [p for p in probe.process_tree() if p != os.getpid()]
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in children):
        if time.monotonic() > deadline:
            for p in children:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            break
        time.sleep(0.05)


def result_line(run, metrics: dict, units: dict) -> dict:
    bad = sorted(set(units) ^ set(metrics))
    if bad:
        raise RuntimeError(f"metric names differ from BENCHMARK.json: {bad}")
    out = {}
    for name in units:
        v = float(metrics[name])
        if not math.isfinite(v):
            raise RuntimeError(f"metric {name} is {v}")
        out[name] = {"value": v, "unit": units[name]}
    failed = len(run.failures)
    return {"correct": failed == 0, "attempted": max(run.attempted, 1),
            "failed": failed if run.attempted else 1, "metrics": out}


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "otters_spark", "__init__.py")):
        print("perfbench: no otters_spark package in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import deploy, harness, probe

    workload = importlib.import_module(WORKLOADS[args.workload])
    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[key]}

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    settings = deploy.pin(work)
    run = harness.Run(bool(args.trace))
    sessions = []

    def start_session():
        import otters_spark as ot

        with run.tracer.span("session.start"):
            spark = ot.get_spark(
                app_name=f"perfbench-{args.workload}", extra_conf=deploy.spark_conf(work)
            )
        sessions.append(spark)
        run.jvm_pid = spark.sparkContext._gateway.proc.pid
        return spark

    run.phases["start"] = time.perf_counter() - t_start
    try:
        layers = workload.run(run, work, args.seed, args.seconds, start_session)
        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "settings": settings,
            "versions": deploy.versions(sessions[0]),
            "host": run.host_stats, "health": {**run.health(), **run.cpu_per_op()},
            "failed_ops": [f"{r['name']}: {r['error']}" for r in run.failures],
            "ops": [[r["name"], round(r["latency"], 4), r["ok"], round(r["steal"], 2)]
                    for r in run.ops],
        }
        e2e = run.end_to_end()
        if args.trace:
            for k, v in run.spark_per_op().items():
                layers.setdefault(k, v)
            layers.update(run.health())
            layers.update(run.cpu_per_op())
            layers.update(run.trace_overhead())
            metrics = {name: layers.get(name, 0.0) for name in units}
            unknown = sorted(set(layers) - set(units))
            if unknown:
                raise RuntimeError(f"undeclared layer metrics: {unknown}")
            context["end_to_end_traced"] = e2e
            run.tracer.write(os.path.join(base, "traces", f"{args.workload}-s{args.seed}.json"))
        else:
            metrics = e2e
        line = result_line(run, metrics, units)
    finally:
        with run.phase("stop"):
            for spark in sessions:
                _stop(spark, probe)
        shutil.rmtree(work, ignore_errors=True)
    if probe.process_tree() != [os.getpid()]:
        print("perfbench: child processes still running", file=sys.stderr)
        return 1
    context["phases_s"] = {k: round(v, 2) for k, v in
                           {**run.phases, "total": time.perf_counter() - t_start}.items()}
    print(json.dumps({"context": context}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
