"""ingest_search: filtered exact top-k queries interleaved with durable
appends and deletes, closed loop, one client."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from . import check, gen, probe
from .harness import Run, median

ROWS = 30_000
DIM = 64
K = 10
ROW_GROUP_BYTES = 1 << 19  # ~20 row groups in the base store
APPEND_ROWS = 500
MAX_APPENDS = 16
DELETE_IDS = 50
TS_WIDTH = gen.TS_DOMAIN // 50  # a prunable range covers 2% of ts
SETUP_REPS = 2
WARMUP_APPENDS = 3
METRICS = ("cosine", "dot", "euclidean")
# one cycle of the closed loop; queries rotate prunable / selective /
# unfiltered so each class is a third of the queries, and one op in
# three is a durable append, so a run holds several of each
CYCLE = ("prunable", "selective", "unfiltered", "append",
         "prunable", "selective", "unfiltered", "append", "delete")


def _expr(cls: str, a: int, c: int):
    from otters_spark import col

    if cls == "prunable":
        return col("ts").gte(a) & col("ts").lt(a + TS_WIDTH)
    if cls == "selective":
        return col("category").eq(c)
    return None


def run(run: Run, work: str, seed: int, seconds: float, start_session) -> dict:
    with run.phase("generate"):
        # one append file more than the loop may use: the warm-up batch
        inputs = gen.search_inputs(os.path.join(work, "in"), seed, ROWS, DIM, MAX_APPENDS + 1, APPEND_ROWS)
        qvecs = gen.query_vectors(seed, 4096, DIM)
        prng = gen.seeded(seed, "filters")
        ts_lo = prng.integers(0, gen.TS_DOMAIN - TS_WIDTH, 4096)
        cats = prng.integers(0, gen.N_CATEGORIES, 4096)
        drng = gen.seeded(seed, "deletes")
        delete_batches = drng.choice(ROWS, (MAX_APPENDS + 1, DELETE_IDS), replace=False).tolist()
    store_dir = os.path.join(work, "store")

    import otters_spark as ot

    tr = run.tracer
    t0 = time.perf_counter()
    spark = start_session()
    run.session_s = time.perf_counter() - t0
    builds = []
    for _ in range(SETUP_REPS):
        b0 = time.perf_counter()
        with tr.span("store.from_df"):
            built = ot.MetaStore.from_df(spark.read.parquet(inputs["base"]), "embedding", "vec_id")
        with tr.span("store.save"):
            built.save(store_dir, sort_cols=["ts"], bloom_cols=["lang"], row_group_bytes=ROW_GROUP_BYTES)
        with tr.span("store.load"):
            loaded = ot.MetaStore.load(spark, store_dir)
        builds.append(time.perf_counter() - b0)
    # the loop starts from a store with one delete batch applied, so
    # every query has the shape it keeps for the whole run; warm-up runs
    # each class and each metric once
    w0 = time.perf_counter()
    state = {"loaded": loaded, "store": loaded.remove_rows(delete_batches[0]),
             "appends": 0, "deleted": list(delete_batches[0])}
    # warm-up appends go to a scratch store, so the timed appends do not
    # pay the first, cold runs of the append, load and delete paths
    warm_dir = os.path.join(work, "warm-store")
    for i in range(WARMUP_APPENDS):
        batch = ot.MetaStore.from_df(spark.read.parquet(inputs["appends"][MAX_APPENDS]), "embedding", "vec_id")
        batch.save(warm_dir, mode="append" if i else "overwrite", bloom_cols=["lang"],
                   row_group_bytes=ROW_GROUP_BYTES)
        ot.MetaStore.load(spark, warm_dir).remove_rows(delete_batches[0])
    for j, cls in enumerate(("prunable", "selective", "unfiltered")):
        plan = state["store"].query(qvecs[-1 - j].tolist(), METRICS[j])
        e = _expr(cls, int(ts_lo[-1 - j]), int(cats[-1 - j]))
        (plan.meta_filter(e) if e is not None else plan).take(K).collect()
    run.setup_s = run.session_s + median(builds) + time.perf_counter() - w0
    run.attach(spark)
    run.query_kinds = {"prunable", "selective", "unfiltered"}
    run.batch_kinds = {"append"}
    checks: list[tuple[dict, tuple]] = []

    def query_op(qi: int, cls: str, traced: bool):
        # class is qi % 3; the metric paired with each class rotates
        # every cycle
        metric = METRICS[(qi + qi // 3) % len(METRICS)]
        expr = _expr(cls, int(ts_lo[qi]), int(cats[qi]))

        def fn():
            with tr.span("expr.compile"):
                plan = state["store"].query(qvecs[qi].tolist(), metric)
                if expr is not None:
                    plan = plan.meta_filter(expr)
            plan = plan.take(K)
            if traced:
                with tr.span("plan.build"):
                    plan.df()
                with tr.span("plan.execute"):
                    return plan.collect_with_stats()
            with tr.span("plan.execute"):
                return plan.collect(), None

        snap = (qi, metric, cls, state["appends"], len(state["deleted"]))
        rec = run.op(f"{cls}-{metric}-q{qi}", cls, fn, traced)
        checks.append((rec, snap))

    def append_op(traced: bool):
        i = state["appends"]

        def fn():
            with tr.span("store.from_df"):
                new = ot.MetaStore.from_df(spark.read.parquet(inputs["appends"][i]), "embedding", "vec_id")
            with tr.span("store.save"):
                new.save(store_dir, mode="append", bloom_cols=["lang"], row_group_bytes=ROW_GROUP_BYTES)
            with tr.span("store.load"):
                state["loaded"] = ot.MetaStore.load(spark, store_dir)
            with tr.span("store.remove_rows"):
                state["store"] = state["loaded"].remove_rows(state["deleted"])

        rec = run.op(f"append-{i}", "append", fn, traced)
        if rec["ok"]:
            state["appends"] += 1
            rec["append"] = i

    def delete_op(traced: bool):
        i = len(state["deleted"]) // DELETE_IDS

        def fn():
            with tr.span("store.remove_rows"):
                state["store"] = state["loaded"].remove_rows(state["deleted"] + delete_batches[i])

        rec = run.op(f"delete-{i}", "delete", fn, traced)
        if rec["ok"]:
            state["deleted"] += delete_batches[i]

    run.start_window()
    deadline = time.perf_counter() + seconds
    i = qi = 0
    seen = {"append": 0, "delete": 0}
    while time.perf_counter() < deadline and qi < len(qvecs) and state["appends"] < MAX_APPENDS:
        kind = CYCLE[i % len(CYCLE)]
        # every other op of each kind is traced; queries alternate by
        # query index, so each class has traced and untraced queries
        if kind in seen:
            traced = run.trace and seen[kind] % 2 == 0
            seen[kind] += 1
            (append_op if kind == "append" else delete_op)(traced)
        else:
            query_op(qi, kind, run.trace and qi % 2 == 0)
            qi += 1
        i += 1
    run.end_window()

    with run.phase("verify"):
        _verify(run, inputs, store_dir, checks, qvecs, ts_lo, cats, state)
        return _layers(run, store_dir, state)


def _verify(run, inputs, store_dir, checks, qvecs, ts_lo, cats, state) -> None:
    """Every query against numpy exact top-k over the store as it stood
    when the query ran; every acknowledged append present on disk."""
    tables = [pq.read_table(inputs["base"])] + [
        pq.read_table(p) for p in inputs["appends"][: state["appends"]]
    ]
    ids = np.concatenate([t["vec_id"].to_numpy() for t in tables])
    ts = np.concatenate([t["ts"].to_numpy() for t in tables])
    cat = np.concatenate([t["category"].to_numpy() for t in tables])
    x = np.concatenate([gen.matrix(t["embedding"]) for t in tables])
    deleted = np.asarray(state["deleted"], dtype=np.int64)
    for rec, (qi, metric, cls, n_app, n_del) in checks:
        if not rec["ok"]:
            continue
        rows, _ = rec["value"]
        mask = ids < ROWS + n_app * APPEND_ROWS
        mask &= ~np.isin(ids, deleted[:n_del])
        if cls == "prunable":
            mask &= (ts >= ts_lo[qi]) & (ts < ts_lo[qi] + TS_WIDTH)
        elif cls == "selective":
            mask &= cat == cats[qi]
        exact = check.scores(x[mask], qvecs[qi], metric)
        why = check.topk_mismatch(
            [r["vec_id"] for r in rows], [r["score"] for r in rows],
            ids[mask], exact, K, ascending=(metric == "euclidean"),
        )
        if why:
            run.fail(rec, why)
    on_disk, copies = np.unique(
        pq.read_table(store_dir, columns=["vec_id"])["vec_id"].to_numpy(), return_counts=True
    )
    for rec in run.ops:
        if rec["kind"] == "append" and rec["ok"]:
            first = ROWS + rec["append"] * APPEND_ROWS
            mine = (on_disk >= first) & (on_disk < first + APPEND_ROWS)
            if mine.sum() != APPEND_ROWS:
                run.fail(rec, "acknowledged append missing from the store on disk")
            elif (copies[mine] != 1).any():
                run.fail(rec, "appended rows stored more than once")


def _layers(run: Run, store_dir: str, state) -> dict:
    tr = run.tracer
    layout = probe.store_layout(store_dir)
    n_rows = ROWS + state["appends"] * APPEND_ROWS
    langs = sum(len(s) for s in pq.read_table(store_dir, columns=["lang"])["lang"].to_pylist())
    raw = n_rows * (DIM * 4 + 8 + 8 + 4) + langs
    out = {
        "session.start_s": run.session_s,
        "store.from_df_s": median(tr.durations("store.from_df", {None})),
        "store.save_s": median(tr.durations("store.save", {None})),
        "store.load_s": median(tr.durations("store.load", {None})),
        "store.append_s": median(r["latency"] for r in run.ops if r["kind"] == "append" and r["ok"]),
        "store.remove_s": median(r["latency"] for r in run.ops if r["kind"] == "delete" and r["ok"]),
        **layout,
        "store.space_amp": layout["store.bytes"] / raw,
    }
    def inside(name, recs):
        """Spans ``name`` inside the ops ``recs``, with their self times."""
        ops = {r["op"] for r in recs}
        return [(s, t) for s, t in zip([s for s in tr.spans if s["name"] == name], tr.self_times(name))
                if s["op"] in ops]

    def durations(name, recs):
        return tr.durations(name, {r["op"] for r in recs})

    for cls in ("prunable", "selective", "unfiltered"):
        out[f"plan.execute_s.{cls}"] = median(durations("plan.execute", [r for r in run.plain_ops(cls) if r["ok"]]))
    queries = [r for r in run.ops if r["kind"] in run.query_kinds and r["ok"]]
    traced = [r for r in queries if r["traced"]]
    out["expr.compile_s"] = median(durations("expr.compile", queries))
    out["plan.build_s"] = median(tr.durations("plan.build"))
    # time inside collect not covered by any Spark job: planning,
    # codegen, scheduling and the driver-side merge
    out["plan.driver_s"] = median(t for _, t in inside("plan.execute", traced))
    stats = [r["value"][1] for r in traced]
    sparks = [r["spark"] for r in traced]
    n = max(len(traced), 1)
    out["plan.jobs"] = sum(s["jobs"] for s in sparks) / n
    out["plan.stages"] = sum(s["stages"] for s in sparks) / n
    out["plan.tasks"] = sum(s["tasks"] for s in sparks) / n
    chunks = sum((s.evaluated_chunks or 0) + (s.pruned_chunks or 0) for s in stats)
    out["plan.chunks_pruned_frac"] = sum(s.pruned_chunks or 0 for s in stats) / chunks if chunks else 0.0
    out["plan.prune_task_s"] = median(s.prune_sec or 0.0 for s in stats)
    out["plan.score_task_s"] = median(s.score_sec or 0.0 for s in stats)
    out["plan.merge_task_s"] = median(s.merge_sec or 0.0 for s in stats)
    scored = sum(s.candidate_rows for s in stats)
    out["plan.rows_scored_frac"] = scored / (n_rows * len(stats)) if stats else 0.0
    survivors = sum(s.rows_after_filters for s in stats)
    out["plan.result_yield"] = sum(s.result_rows for s in stats) / survivors if survivors else 0.0
    pairs = sum(s.vectors_compared for s in stats)
    cpu = sum(s["executor_cpu_s"] for s in sparks)
    out["vector.pairs_scored"] = pairs / n
    out["vector.pairs_per_cpu_s"] = pairs / cpu if cpu else 0.0
    return out
