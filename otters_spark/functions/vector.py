"""Vector scoring as native Catalyst expressions.

Replaces the reference's SIMD scoring kernels (otters
src/vec_compute.rs:9-54) with JVM-side higher-order functions
(``zip_with`` + ``aggregate``), so the hot loop never crosses into
Python. These are NOT compiled by whole-stage codegen: in Spark 4.1
``ZipWith``, ``ArrayAggregate`` and ``ArrayTransform`` implement
``CodegenFallback``, so the surrounding stage is generated but each
kernel call is evaluated by the interpreted ``eval`` path. An unrolled
``v[0]*q_0 + ... + v[d-1]*q_{d-1}`` sum does generate code, but at
dim 64 it made filtered top-k queries ~3x slower: the generated methods
grow past the JIT's compile limits and stay interpreted.

All accumulation is in float64 (the reference accumulates f32; we
compare against the DuckDB oracle at 1e-5, the reference's own test
tolerance, tests/vec_store_tests.rs:158,586).

Semantics preserved:

* dot product: plain sum of elementwise products (src/vec_compute.rs:9-22)
* cosine: ``dot * inv_norm_a * inv_norm_b`` with *precomputed* inverse
  norms; a zero vector stores inv_norm 0.0, so its cosine vs anything is
  0.0, never NaN (src/vec.rs:365-368, src/vec_compute.rs:25-32)
* euclidean: **squared** distance, never sqrt'd (src/vec_compute.rs:35-54)

Scale note: for dim≈64 these JVM expressions are the fast path; an
Arrow/pandas-UDF matmul path for very wide vectors lives in
``otters_spark.operators.similarity``.
"""

from __future__ import annotations

import json
import math
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

__all__ = [
    "METRICS",
    "dot_expr",
    "cosine_expr",
    "euclidean_sq_expr",
    "manhattan_expr",
    "hamming_expr",
    "jaccard_expr",
    "inv_norm_expr",
    "inv_norm_of",
    "score_expr",
    "queries_df",
    "queries_generator",
]

#: metric -> default take direction (src/vec.rs:92-98: Euclidean->Min,
#: Cosine/DotProduct->Max). Manhattan is the reference's own roadmap
#: item (README.md:209 "More Metrics (Manhattan, ...)"); distance
#: semantics -> Min, like Euclidean.
#: Hamming (distance -> Min) and Jaccard (similarity -> Max) complete
#: the same roadmap line; both are meant for binary/discretized
#: vectors (see their kernel docstrings).
METRICS = {
    "dot": "max",
    "cosine": "max",
    "euclidean": "min",
    "manhattan": "min",
    "hamming": "min",
    "jaccard": "max",
}


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def dot_expr(a, b) -> Column:
    """Dot product of two array columns, accumulated in float64
    (reference: src/vec_compute.rs:9-22)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def inv_norm_expr(v) -> Column:
    """Inverse L2 norm; 0.0 for the zero vector (src/vec.rs:365-368)."""
    norm = F.sqrt(
        F.aggregate(
            F.transform(_c(v), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )
    return F.when(norm == 0.0, F.lit(0.0)).otherwise(F.lit(1.0) / norm)


def inv_norm_of(vec: Sequence[float]) -> float:
    """Driver-side inverse norm for a query vector (hoisted once per
    batch, src/vec.rs:124-137,390-397)."""
    s = math.fsum(float(x) * float(x) for x in vec)
    n = math.sqrt(s)
    return 0.0 if n == 0.0 else 1.0 / n


def cosine_expr(a, b, inv_norm_a, inv_norm_b) -> Column:
    """Cosine similarity from precomputed inverse norms
    (src/vec_compute.rs:25-32). Zero-norm vectors score 0.0 by
    construction (inv_norm stored as 0.0)."""
    ia = inv_norm_a if isinstance(inv_norm_a, Column) else F.lit(float(inv_norm_a))
    ib = inv_norm_b if isinstance(inv_norm_b, Column) else F.lit(float(inv_norm_b))
    return dot_expr(a, b) * ia * ib


def euclidean_sq_expr(a, b) -> Column:
    """Squared euclidean distance — squared on purpose, matching the
    reference exactly (src/vec_compute.rs:35-54; test
    tests/vec_store_tests.rs:636-656)."""
    return F.aggregate(
        F.zip_with(
            _c(a),
            _c(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def manhattan_expr(a, b) -> Column:
    """L1 (Manhattan) distance — the reference's roadmap metric
    (README.md:209). Like the other kernels: zip_with + aggregate in
    float64."""
    return F.aggregate(
        F.zip_with(
            _c(a),
            _c(b),
            lambda x, y: F.abs(x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _null_guarded_lane(cond):
    """Lane combinator for zip_with kernels that count matches: maps a
    (x, y) predicate to 1/0 as int64, but NULLs the lane when either
    side is NULL — so a ragged (zip_with NULL-padded) or null-element
    input propagates NULL through the sum instead of silently counting
    the padded lanes (SQL 3VL would send the NULL comparison to the
    otherwise-branch 0). Shared by hamming and jaccard; manhattan gets
    the same behavior from arithmetic NULL propagation for free."""

    def lane(x, y):
        return F.when(
            x.isNull() | y.isNull(), F.lit(None).cast("long")
        ).otherwise(
            F.when(cond(x, y), F.lit(1)).otherwise(F.lit(0)).cast("long")
        )

    return lane


def hamming_expr(a, b) -> Column:
    """Hamming distance — the count of positions where the two vectors
    differ (reference roadmap metric, README.md:209). Meaningful for
    binary / discretized vectors; defined on any numeric arrays as an
    exact inequality count, accumulated as int64 then cast to double
    so every metric scores as one column type.

    Length-mismatched (ragged) inputs score NULL, not a silent
    undercount — see :func:`_null_guarded_lane`. VecStore's dim
    validation prevents ragged rows at ingest; the guard covers direct
    users of the public function, and the plan layer drops NULL scores
    alongside NaN so a guarded row can never occupy a top-k slot."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), _null_guarded_lane(lambda x, y: x != y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("double")


def jaccard_expr(a, b) -> Column:
    """Jaccard similarity over the NONZERO lanes of two equal-length
    vectors (reference roadmap metric, README.md:209): treating each
    vector as the set of coordinates it activates,
    ``|both nonzero| / |either nonzero|``; two all-zero vectors score
    0.0, never NaN (the zero-vector convention cosine already uses).

    Length-mismatched (ragged) inputs score NULL rather than silently
    miscounting the zip_with NULL-padded lanes — the shared
    :func:`_null_guarded_lane` guard."""
    inter = F.aggregate(
        F.zip_with(
            _c(a), _c(b), _null_guarded_lane(lambda x, y: (x != 0) & (y != 0))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    union = F.aggregate(
        F.zip_with(
            _c(a), _c(b), _null_guarded_lane(lambda x, y: (x != 0) | (y != 0))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def score_expr(vec_col, q_col, metric: str, inv_norm_col=None, q_inv_norm=None) -> Column:
    """Score expression for one (store-vector, query-vector) pair.

    ``inv_norm_col`` is the store's precomputed inverse-norm column;
    ``q_inv_norm`` the query's (Column or float). Both required for
    cosine — precomputing them is the engine's analog of the reference's
    ingest-time norm precompute (src/vec.rs:365-368).
    """
    if metric == "dot":
        return dot_expr(vec_col, q_col)
    if metric == "cosine":
        ia = _c(inv_norm_col) if inv_norm_col is not None else inv_norm_expr(vec_col)
        ib = q_inv_norm if q_inv_norm is not None else inv_norm_expr(q_col)
        return cosine_expr(vec_col, q_col, ia, ib)
    if metric == "euclidean":
        return euclidean_sq_expr(vec_col, q_col)
    if metric == "manhattan":
        return manhattan_expr(vec_col, q_col)
    if metric == "hamming":
        return hamming_expr(vec_col, q_col)
    if metric == "jaccard":
        return jaccard_expr(vec_col, q_col)
    raise ValueError(f"unknown metric {metric!r}; expected one of {sorted(METRICS)}")


def _query_rows(queries: Iterable[Sequence[float]]) -> list[tuple]:
    return [
        (i, [float(x) for x in q], inv_norm_of(q)) for i, q in enumerate(queries)
    ]


_QUERY_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("qvec", T.ArrayType(T.DoubleType(), False), False),
        T.StructField("q_inv_norm", T.DoubleType(), False),
    ]
)


def queries_df(spark: SparkSession, queries: Iterable[Sequence[float]]) -> DataFrame:
    """Materialize a query batch as a tiny DataFrame (broadcast side of
    the scoring join). Mirrors ``QueryBatch`` (src/vec.rs:320-336) with
    per-query inverse norms hoisted driver-side."""
    return spark.createDataFrame(_query_rows(queries), _QUERY_SCHEMA)


def queries_generator(queries: Iterable[Sequence[float]]) -> Column:
    """The query batch as a generator column: ``df.select("*",
    queries_generator(qs))`` pairs every row of ``df`` with every query
    as ``(query_id, qvec, q_inv_norm)``, the same rows
    :func:`queries_df` holds, with inverse norms hoisted driver-side.

    The batch travels as ONE JSON string literal (one JVM call for any
    batch size); ``from_json`` of a literal is constant-folded into a
    single array-of-structs ``Literal``, so the plan is a ``Generate``
    over the scan: no join, no ``BroadcastExchange``, and no separate
    Spark job to build the broadcast side. The folded literal ships
    inside the stage's task binary, which Spark broadcasts once per
    stage. JSON round-trips every double exactly (Python writes the
    shortest repr; NaN and ±inf as ``NaN``/``Infinity``, which the JSON
    reader accepts by default)."""
    rows = _query_rows(queries)
    payload = json.dumps(
        [{"query_id": i, "qvec": q, "q_inv_norm": n} for i, q, n in rows]
    )
    return F.inline(F.from_json(F.lit(payload), T.ArrayType(_QUERY_SCHEMA)))
