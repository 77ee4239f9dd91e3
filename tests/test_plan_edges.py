"""Plan edge cases from the reference test suite: take(0), k > n,
duplicate batch queries, store attached late, store missing; plus the
literal query batch: degenerate vectors score as the broadcast-join
plan did, and a filtered query after deletes is one Spark job."""

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from otters_spark import MetaStore, PlanError, VecStore, col
from otters_spark.functions.vector import METRICS, queries_df, score_expr
from otters_spark.plan import VecQueryPlan
from otters_spark.store import INV_NORM_COL

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
    ]
)


@pytest.fixture(scope="module")
def store(spark):
    rows = [(i, v) for i, v in enumerate([[1.0, 0.0], [0.0, 1.0], [0.5, 0.5]])]
    return VecStore.from_df(spark.createDataFrame(rows, VEC_SCHEMA))


def test_take_zero_is_empty(store):
    assert store.query([1.0, 0.0], "cosine").take(0).collect() == []


def test_k_larger_than_store_returns_all(store):
    rows = store.query([1.0, 0.0], "cosine").take(100).collect()
    assert len(rows) == 3


def test_duplicate_batch_queries_duplicate_rows(store):
    # the same query twice scores every row twice; global merge keeps both
    rows = store.query([[1.0, 0.0], [1.0, 0.0]], "dot").collect()
    assert len(rows) == 6
    ids = sorted(r["vec_id"] for r in rows)
    assert ids == [0, 0, 1, 1, 2, 2]


def test_with_vector_store_attaches_late(store):
    plan = VecQueryPlan(None, [1.0, 0.0], "cosine").take(1)
    with pytest.raises(PlanError):
        plan.collect()
    rows = plan.with_vector_store(store).collect()
    assert rows[0]["vec_id"] == 0


def test_with_vector_store_rejects_non_store(store):
    plan = VecQueryPlan(None, [1.0, 0.0], "cosine").with_vector_store("nope")
    with pytest.raises(PlanError):
        plan.collect()


def test_query_batch_alias(store):
    a = store.query([[1.0, 0.0], [0.0, 1.0]], "dot").take(3).collect()
    b = store.query_batch([[1.0, 0.0], [0.0, 1.0]], "dot").take(3).collect()
    assert a == b


def test_mixed_dim_batch_rejected(store):
    # only the SECOND query has a bad dim: whole batch errors at collect
    plan = store.query([[1.0, 0.0], [1.0, 0.0, 9.9]], "dot").take(2)
    import pytest as _pytest

    from otters_spark import DimensionMismatchError

    with _pytest.raises(DimensionMismatchError):
        plan.collect()


def test_lt_score_filter(store):
    rows = store.query([1.0, 0.0], "cosine").filter(0.9, "lt").collect()
    assert all(r["score"] < 0.9 for r in rows)
    ids = sorted(r["vec_id"] for r in rows)
    assert ids == [1, 2]  # row 0 is the exact match, excluded


def test_eq_score_filter(store):
    rows = store.query([1.0, 0.0], "cosine").filter(0.0, "eq").collect()
    assert [r["vec_id"] for r in rows] == [1]  # orthogonal scores exactly 0


def test_repeated_filter_replaces(store):
    # reference semantics: vec.rs:152 ASSIGNS filter_criteria, so the
    # second call replaces the first (not AND)
    rows = store.query([1.0, 0.0], "cosine").filter(0.9, "gt").filter(0.9, "lt").collect()
    ids = sorted(r["vec_id"] for r in rows)
    assert ids == [1, 2]  # only the second (lt) criterion applies


def test_malformed_queries_defer_errors(store):
    from otters_spark import EmptyQueryError, OttersError

    # a bare string, and a mixed scalar/list batch: builder must NOT
    # raise; the error surfaces at collect as an OttersError
    for bad in ("not a vector", [1.0, [2.0, 3.0]], [["a", "b"]]):
        plan = store.query(bad, "cosine").take(1)  # no raise here
        with pytest.raises(OttersError):
            plan.collect()
    with pytest.raises(EmptyQueryError):
        store.query("oops", "cosine").collect()


def test_non_numeric_threshold_defers(store):
    plan = store.query([1.0, 0.0], "cosine").filter("high", "gt")
    with pytest.raises(PlanError):
        plan.collect()


# --- the query batch as a folded literal: same rows as the broadcast
# crossJoin it replaced, one Spark job per query ---

NAN, INF = float("nan"), float("inf")
DEGENERATE = [[NAN, 1.0], [INF, 0.0], [-INF, 1.0], [INF, -INF], [0.0, 0.0], [0.0, -0.0]]


def _broadcast_topk(store, queries, metric, k):
    """The scoring plan as it was built before the literal batch:
    ``crossJoin(broadcast(queries_df))``, NULL/NaN scores dropped,
    ordered by score then id."""
    qdf = queries_df(store.df.sparkSession, queries)
    scored = store.df.crossJoin(F.broadcast(qdf)).withColumn(
        "score",
        score_expr(store.vec_col, "qvec", metric, INV_NORM_COL, F.col("q_inv_norm")),
    )
    scored = scored.filter(F.col("score").isNotNull() & ~F.isnan("score"))
    first = F.col("score").asc_nulls_last() if METRICS[metric] == "min" else F.col("score").desc()
    out = scored.orderBy(first, F.col(store.id_col).asc()).limit(k)
    return out.select(store.id_col, "score").collect()


@pytest.fixture(scope="module")
def wide_store(spark):
    vecs = [[1.0, 0.0], [0.0, 1.0], [0.5, 0.5], [0.0, 0.0], [-2.0, 3.0], [1e30, -1e-30]]
    rows = [(i, v) for i, v in enumerate(vecs)]
    return VecStore.from_df(spark.createDataFrame(rows, VEC_SCHEMA))


@pytest.mark.parametrize("metric", sorted(METRICS))
def test_degenerate_queries_match_broadcast_plan(wide_store, metric):
    """NaN, ±inf and zero query vectors — alone and as one batch — give
    exactly the rows of the broadcast-join plan: the JSON literal
    round-trips NaN/inf/-0.0 and finite doubles (subnormal, max,
    non-terminating binary fractions) bit for bit."""
    finite = [[0.1, 1 / 3], [1e-310, 1.7976931348623157e308], [-5e-324, 2.5]]
    batches = [[q] for q in DEGENERATE] + [DEGENERATE, DEGENERATE + finite, finite]
    for qs in batches:
        got = wide_store.query(qs, metric).take(20).collect()
        want = _broadcast_topk(wide_store, qs, metric, 20)
        got_t = [(r["vec_id"], r["score"]) for r in got]
        want_t = [(r["vec_id"], r["score"]) for r in want]
        assert got_t == want_t, (metric, qs)
        assert all(not math.isnan(s) for _, s in got_t)


def _jobs(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def saved_store(spark, sf_dir, tmp_path_factory):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("plan_edges_store"))
    MetaStore.from_df(emb, vec_col="embedding", id_col="vec_id").save(
        path, sort_cols=["label"]
    )
    queries = [[float(x) for x in r["embedding"]] for r in emb.limit(3).collect()]
    return MetaStore.load(spark, path), queries


def test_filtered_batch_query_after_delete_is_one_job(spark, saved_store):
    """A meta_filter'd batch-of-3 top-k on a saved store after
    remove_rows runs exactly ONE Spark job, for collect() and for
    collect_with_stats() alike: no broadcast job for the query batch,
    none for the deleted ids, and the stats ride the same job."""
    loaded, queries = saved_store
    store = loaded.remove_rows(list(range(0, 300, 7)) + [None])
    plan = store.query(queries, "cosine").meta_filter(col("label").gte(0)).take(5)
    rows, n = _jobs(spark, "plan-edges-collect", plan.collect)
    assert n == 1 and len(rows) == 5
    (rows2, stats), n = _jobs(spark, "plan-edges-stats", plan.collect_with_stats)
    assert n == 1 and rows2 == rows
    assert stats.vectors_compared == 3 * stats.candidate_rows
    assert all(r["vec_id"] % 7 != 0 or r["vec_id"] >= 300 for r in rows)


@pytest.mark.parametrize("batch", [1, 100, 1000])
def test_batch_size_keeps_one_job_and_no_join(spark, saved_store, batch):
    loaded, queries = saved_store
    qs = [queries[i % 3] for i in range(batch)]
    plan = loaded.remove_rows([1, 2, 3]).query(qs, "dot").take(3)
    df = plan.df()
    for text in (
        df._jdf.queryExecution().optimizedPlan().toString(),
        df._jdf.queryExecution().executedPlan().toString(),
    ):
        for node in ("Join", "BroadcastExchange", "BroadcastNestedLoopJoin", "CartesianProduct"):
            assert node not in text, (node, text[:2000])
    rows, n = _jobs(spark, f"plan-edges-batch-{batch}", plan.collect)
    assert n == 1 and len(rows) == 3
