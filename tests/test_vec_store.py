"""Port of the reference's VecStore end-to-end tests
(/root/reference/tests/vec_store_tests.rs): exact metric math against
hand-computed values, top-k ordering, score filters, batch merge,
deferred errors, zero-norm convention."""

import math

import pytest
from pyspark.sql import types as T

from otters_spark import (
    DimensionMismatchError,
    EmptyQueryError,
    MissingMetricError,
    VecStore,
)

EPS = 1e-5  # reference tolerance (vec_store_tests.rs:158,586)

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType(), False), False),
    ]
)


def make_store(spark, vectors):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vectors)]
    return VecStore.from_df(spark.createDataFrame(rows, VEC_SCHEMA))


def scores_by_id(rows):
    return {r["vec_id"]: r["score"] for r in rows}


# --- cosine exact values (vec_store_tests.rs:544-608) ---


def test_cosine_parallel_orthogonal_45deg(spark):
    store = make_store(spark, [[1, 0], [0, 1], [1, 1], [-1, 0]])
    rows = store.query([1.0, 0.0], metric="cosine").collect()
    s = scores_by_id(rows)
    assert abs(s[0] - 1.0) < EPS  # parallel
    assert abs(s[1] - 0.0) < EPS  # orthogonal
    assert abs(s[2] - math.sqrt(0.5)) < EPS  # 45 degrees
    assert abs(s[3] - (-1.0)) < EPS  # anti-parallel
    # descending order for cosine (default Max)
    got = [r["vec_id"] for r in rows]
    assert got == [0, 2, 1, 3]


# --- squared euclidean 3-4-5 (vec_store_tests.rs:610-656) ---


def test_euclidean_is_squared(spark):
    store = make_store(spark, [[3, 4], [0, 0], [1, 1]])
    rows = store.query([0.0, 0.0], metric="euclidean").take(3).collect()
    s = scores_by_id(rows)
    assert abs(s[0] - 25.0) < EPS  # squared! not 5.0
    assert abs(s[1] - 0.0) < EPS
    assert abs(s[2] - 2.0) < EPS
    # ascending order for euclidean (default Min)
    assert [r["vec_id"] for r in rows] == [1, 2, 0]


# --- dot product ranking (vec_store_tests.rs:251-274,658-745) ---


def test_dot_product_ranking_topk(spark):
    store = make_store(spark, [[1, 2], [3, 4], [5, 6], [0, 0]])
    rows = store.query([1.0, 1.0], metric="dot").take(2).collect()
    assert [r["vec_id"] for r in rows] == [2, 1]
    assert abs(rows[0]["score"] - 11.0) < EPS
    assert abs(rows[1]["score"] - 7.0) < EPS


# --- score filter (vec_store_tests.rs:853-896) ---


def test_score_filter_then_topk(spark):
    store = make_store(spark, [[1, 0], [0.9, 0.1], [0, 1], [-1, 0]])
    rows = (
        store.query([1.0, 0.0], metric="cosine").filter(0.5, "gt").take(10).collect()
    )
    ids = [r["vec_id"] for r in rows]
    assert ids == [0, 1]
    assert all(r["score"] > 0.5 for r in rows)


def test_score_filter_cmps(spark):
    store = make_store(spark, [[1, 0], [0, 1], [-1, 0]])
    rows = store.query([1.0, 0.0], metric="cosine").filter(0.0, "lte").collect()
    assert sorted(r["vec_id"] for r in rows) == [1, 2]


# --- batch queries merge globally (vec_store_tests.rs:345-359,899-924) ---


def test_batch_global_merge(spark):
    store = make_store(spark, [[1, 0], [0, 1], [0.7, 0.7]])
    rows = store.query([[1.0, 0.0], [0.0, 1.0]], metric="cosine").take(2).collect()
    # 6 (row, query) scores merged into ONE global top-2: both exact
    # matches score 1.0
    assert len(rows) == 2
    assert all(abs(r["score"] - 1.0) < EPS for r in rows)
    assert sorted(r["vec_id"] for r in rows) == [0, 1]


def test_no_take_returns_all(spark):
    store = make_store(spark, [[1, 0], [0, 1], [0.7, 0.7]])
    rows = store.query([[1.0, 0.0], [0.0, 1.0]], metric="cosine").collect()
    assert len(rows) == 6  # all (row, query) pairs, sorted desc
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


# --- take_min / take_max override (vec_store_tests.rs:156-167) ---


def test_take_min_overrides_cosine(spark):
    store = make_store(spark, [[1, 0], [0, 1], [-1, 0]])
    rows = store.query([1.0, 0.0], metric="cosine").take_min(1).collect()
    assert rows[0]["vec_id"] == 2
    assert abs(rows[0]["score"] - (-1.0)) < EPS


# --- zero-norm convention (vec_store_tests.rs:1092-1124) ---


def test_zero_vector_cosine_is_zero_not_nan(spark):
    store = make_store(spark, [[0, 0], [1, 0]])
    rows = store.query([1.0, 0.0], metric="cosine").collect()
    s = scores_by_id(rows)
    assert s[0] == 0.0
    assert abs(s[1] - 1.0) < EPS
    # zero-vector *query* also scores 0 against everything
    rows2 = store.query([0.0, 0.0], metric="cosine").collect()
    assert all(r["score"] == 0.0 for r in rows2)


# --- empty store (vec_store_tests.rs:488-499) ---


def test_empty_store(spark):
    df = spark.createDataFrame([], VEC_SCHEMA)
    store = VecStore.from_df(df)
    rows = store.query([1.0, 0.0], metric="cosine").take(5).collect()
    assert rows == []


# --- deferred errors (vec_store_tests.rs:51-137,960-1028) ---


def test_dim_mismatch_deferred_to_collect(spark):
    store = make_store(spark, [[1, 0], [0, 1]])
    plan = store.query([1.0, 0.0, 0.0], metric="cosine").take(5)
    with pytest.raises(DimensionMismatchError):
        plan.collect()


def test_empty_batch_deferred(spark):
    store = make_store(spark, [[1, 0]])
    plan = store.query([], metric="cosine")
    with pytest.raises(EmptyQueryError):
        plan.collect()


def test_bad_metric_deferred(spark):
    store = make_store(spark, [[1, 0]])
    plan = store.query([1.0, 0.0], metric="chebyshev")
    with pytest.raises(MissingMetricError):
        plan.collect()
    # builder methods after the error are no-ops, not raises
    plan2 = store.query([1.0, 0.0], metric="chebyshev").filter(0.1).take(2)
    with pytest.raises(MissingMetricError):
        plan2.collect()


# --- manhattan metric (reference roadmap README.md:209) ---


def test_manhattan_exact_and_direction(spark):
    store = make_store(spark, [[1.0, 2.0], [4.0, 6.0], [1.5, 2.0]])
    rows = store.query([1.0, 2.0], "manhattan").take(2).collect()
    # take() infers MIN direction for a distance metric
    assert [r["vec_id"] for r in rows] == [0, 2]
    s = scores_by_id(rows)
    assert abs(s[0] - 0.0) < EPS
    assert abs(s[2] - 0.5) < EPS
    all_rows = scores_by_id(store.query([1.0, 2.0], "manhattan").collect())
    assert abs(all_rows[1] - 7.0) < EPS  # |4-1| + |6-2|


# --- hamming + jaccard metrics (reference roadmap README.md:209) ---


def test_hamming_exact_and_direction(spark):
    store = make_store(spark, [[1.0, 0.0, 1.0], [1.0, 1.0, 1.0], [0.0, 1.0, 0.0]])
    rows = store.query([1.0, 0.0, 1.0], "hamming").take(2).collect()
    # distance metric -> MIN direction inferred
    assert [r["vec_id"] for r in rows] == [0, 1]
    s = scores_by_id(store.query([1.0, 0.0, 1.0], "hamming").collect())
    assert s[0] == 0.0 and s[1] == 1.0 and s[2] == 3.0


def test_jaccard_exact_zero_guard_and_direction(spark):
    store = make_store(spark, [[1.0, 1.0, 0.0], [0.0, 1.0, 1.0], [0.0, 0.0, 0.0]])
    s = scores_by_id(store.query([1.0, 1.0, 0.0], "jaccard").collect())
    assert abs(s[0] - 1.0) < EPS
    assert abs(s[1] - 1.0 / 3.0) < EPS  # inter {1}, union {0,1,2}
    assert s[2] == 0.0  # zero vector: 0/2 = 0
    # similarity metric -> MAX direction inferred
    rows = store.query([1.0, 1.0, 0.0], "jaccard").take(1).collect()
    assert rows[0]["vec_id"] == 0
    # all-zero query vs all-zero store row would be 0/0 -> 0.0, not NaN
    z = make_store(spark, [[0.0, 0.0]])
    zs = z.query([0.0, 0.0], "jaccard").collect()
    assert zs[0]["score"] == 0.0


def test_ragged_vectors_score_null_not_undercount(spark):
    """zip_with NULL-pads the shorter array; hamming/jaccard must fail
    loudly (NULL) on ragged inputs like manhattan does via arithmetic
    NULL propagation — not silently count the padded lanes as matches."""
    from pyspark.sql import functions as F

    from otters_spark.functions.vector import (
        hamming_expr,
        jaccard_expr,
        manhattan_expr,
    )

    df = spark.createDataFrame(
        [([1.0, 0.0, 1.0], [1.0, 0.0])], "a array<double>, b array<double>"
    )
    row = df.select(
        hamming_expr(F.col("a"), F.col("b")).alias("h"),
        jaccard_expr(F.col("a"), F.col("b")).alias("j"),
        manhattan_expr(F.col("a"), F.col("b")).alias("m"),
    ).collect()[0]
    assert row["h"] is None and row["j"] is None and row["m"] is None
    # equal-length inputs are untouched by the guard
    ok = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 1.0])], "a array<double>, b array<double>"
    )
    row = ok.select(
        hamming_expr(F.col("a"), F.col("b")).alias("h"),
        jaccard_expr(F.col("a"), F.col("b")).alias("j"),
    ).collect()[0]
    assert row["h"] == 1.0 and abs(row["j"] - 0.5) < EPS


# --- mutability (reference roadmap README.md:207) ---


def test_add_rows_and_query(spark):
    store = make_store(spark, [[1.0, 0.0], [0.0, 1.0]])
    extra = spark.createDataFrame([(10, [1.0, 0.0])], VEC_SCHEMA)
    grown = store.add_rows(extra)
    assert grown.count() == 3
    assert store.count() == 2  # functional: original untouched
    top = grown.query([1.0, 0.0], "cosine").take(2).collect()
    assert {r["vec_id"] for r in top} == {0, 10}  # both exact matches


def test_add_rows_validates(spark):
    from otters_spark import StoreBuildError

    store = make_store(spark, [[1.0, 0.0]])
    bad_dim = spark.createDataFrame([(9, [1.0, 2.0, 3.0])], VEC_SCHEMA)
    with pytest.raises(StoreBuildError):
        store.add_rows(bad_dim)
    missing_col = spark.createDataFrame([([1.0, 0.0],)], "embedding array<float>")
    with pytest.raises(StoreBuildError):
        store.add_rows(missing_col)


def test_remove_rows_list_and_df(spark):
    store = make_store(spark, [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    by_list = store.remove_rows([0, 2])
    assert {r["vec_id"] for r in by_list.df.select("vec_id").collect()} == {1}
    ids_df = store.df.filter("vec_id >= 1").select("vec_id")
    by_df = store.remove_rows(ids_df)
    assert {r["vec_id"] for r in by_df.df.select("vec_id").collect()} == {0}
    # removing then re-adding round-trips the store contents
    readd = by_list.add_rows(store.df.filter("vec_id in (0, 2)").drop("__inv_norm"))
    assert readd.count() == 3


def test_null_score_never_occupies_topk(spark):
    """A NULL score (ragged vector ingested under validate=False) must
    be dropped like NaN — min-direction ordering would otherwise sort
    it NULLS FIRST, silently displacing real matches from the top-k."""
    from otters_spark.store import VecStore

    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 1.0]), (1, [1.0, 1.0, 1.0]), (2, [1.0, 0.0])],
        "vec_id long, vec array<double>",
    )
    store = VecStore.from_df(df, vec_col="vec", id_col="vec_id", validate=False)
    rows = store.query([1.0, 0.0, 1.0], "hamming").take(2).collect()
    assert [r["vec_id"] for r in rows] == [0, 1]  # ragged id=2 absent
    all_rows = store.query([1.0, 0.0, 1.0], "hamming").collect()
    assert {r["vec_id"] for r in all_rows} == {0, 1}


# --- remove_rows over an iterable: scan-side IN filter with the
# anti-join's semantics ---


def _ids(store):
    return sorted(
        (r[store.id_col] for r in store.df.select(store.id_col).collect()),
        key=lambda v: (v is not None, v),
    )


def _nullable_id_store(spark):
    df = spark.createDataFrame(
        [(None, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [2.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    return VecStore.from_df(df)


def test_remove_rows_iterable_keeps_anti_join_semantics(spark):
    """NULL store ids survive any removal, ``None`` in ``ids`` matches
    nothing (NOT IN over a NULL would otherwise drop every row),
    duplicates are harmless, an empty or all-None list is a no-op, and
    the DataFrame (anti-join) form agrees on every case."""
    store = _nullable_id_store(spark)
    cases = [[1, None, 1, 3], [None], [], [2, 2, 2], [3, 1]]
    for ids in cases:
        got = _ids(store.remove_rows(iter(ids)))
        key = spark.createDataFrame([(i,) for i in ids], "vec_id long")
        assert got == _ids(store.remove_rows(key)), ids
        assert got == [None] + [i for i in (1, 2, 3) if i not in ids], ids


@pytest.mark.parametrize(
    "ddl,ids,doomed",
    [
        ("long", list(range(40)), [0, 3, 7, 39, 2**62]),
        ("int", list(range(40)), list(range(0, 40, 3))),  # > 10: hash-set IN
        ("smallint", [-5, 0, 5], [-5, 5]),
        ("tinyint", [-128, 0, 127], [-128]),
        ("string", ["a'b", "c\\d", "é", "x`y", "plain", ""], ["a'b", "é", "", None]),
        ("double", [0.5, 1.5, float("nan")], [1.5, float("nan")]),
    ],
)
def test_remove_rows_iterable_per_id_type(spark, ddl, ids, doomed):
    df = spark.createDataFrame(
        [(i, [1.0, float(n)]) for n, i in enumerate(ids)],
        f"vec_id {ddl}, embedding array<float>",
    )
    store = VecStore.from_df(df)
    got = store.remove_rows(doomed)
    key = spark.createDataFrame([(i,) for i in doomed], f"vec_id {ddl}")
    assert _ids(got) == _ids(store.remove_rows(key))
    assert got.count() == store.count() - sum(1 for i in ids if i in doomed or i != i)


def test_remove_rows_mistyped_id_raises(spark):
    """A Python value that does not fit the id column raises the same
    schema error ``createDataFrame`` gave, instead of being coerced."""
    store = _nullable_id_store(spark)
    for bad in (["1"], [1.0], [True], [2**63]):
        with pytest.raises((TypeError, ValueError)):
            store.remove_rows(bad)


def test_remove_rows_iterable_plans_no_join(spark):
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.col("id").cast("double")).alias("embedding"),
    )
    store = VecStore.from_df(df).remove_rows(list(range(100)))
    plan = store.df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert "INSET" in plan.upper(), plan
    assert store.count() == 100
