"""Streaming vector search: score a STREAM of query vectors against a
static store.

The reference is batch/in-memory only; this is the extension surface a
serving deployment needs. Two Spark-native shapes:

* :func:`stream_static_scores` — stream-static inner join: each
  arriving query row crossJoins (broadcast, tiny) nothing — the STORE
  is the static side, scored with the same codegen score expression the
  batch path uses. Append-mode safe (no aggregation), so any sink
  works; downstream consumers filter/threshold.
* :func:`serve_query_stream` — micro-batch top-k via ``foreachBatch``:
  every micro-batch of queries runs the BATCHED serving plan (broadcast
  query batch + per-query window top-k — one job per micro-batch, the
  measured ~20× amortization from SCALE.md) and hands results to a
  callback. This is the engine's documented serving loop, driven by a
  stream.

Both reuse ``functions.vector.score_expr`` so streaming and batch
scoring are THE SAME expression — equivalence is asserted in
tests/test_streaming_serving.py the same way the events streams are
checked against their batch twins.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..functions.vector import score_expr
from ..store import INV_NORM_COL, VecStore

__all__ = ["stream_static_scores", "serve_query_stream"]


def _q_inv_norm(qvec_col: str) -> F.Column:
    acc = F.aggregate(
        F.transform(F.col(qvec_col), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    return F.when(acc > 0, F.lit(1.0) / F.sqrt(acc)).otherwise(F.lit(0.0))


def stream_static_scores(
    queries: DataFrame,
    store: VecStore,
    metric: str = "cosine",
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
    threshold: float | None = None,
) -> DataFrame:
    """Stream-static join form: ``queries`` is a streaming DataFrame of
    (query_id, qvec); every store row is scored against every arriving
    query (the static store side is re-read per micro-batch — at scale,
    point the store at a pruned/partitioned layout). Append-safe:
    returns (query_id, id, score) without aggregation; pass
    ``threshold`` to pre-filter in the stream."""
    scored = queries.withColumn("__qin", _q_inv_norm(qvec_col)).crossJoin(
        store.df
    ).withColumn(
        "score",
        score_expr(
            store.vec_col, qvec_col, metric,
            inv_norm_col=INV_NORM_COL, q_inv_norm=F.col("__qin"),
        ),
    )
    scored = scored.filter(~F.isnan(F.col("score")))
    if threshold is not None:
        scored = scored.filter(F.col("score") >= threshold)
    return scored.select(query_id_col, store.id_col, "score")


def serve_query_stream(
    queries: DataFrame,
    store: VecStore,
    on_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    metric: str = "cosine",
    k: int = 10,
    qvec_col: str = "qvec",
    query_id_col: str = "query_id",
):
    """Micro-batch top-k serving loop: for each arriving micro-batch of
    queries, run ONE batched scoring job (broadcast queries × store,
    per-query window top-k) and pass the result DataFrame to
    ``on_batch(results, batch_id)``. Returns the started
    ``StreamingQuery`` (caller awaits/stops).

    Raises :class:`~otters_spark.errors.TopKLimitError` before the
    stream starts when ``k`` is above the window-group-limit threshold
    (see ``operators.similarity.check_topk_limit``)."""
    from ..operators.similarity import _rank_limit, check_topk_limit

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    check_topk_limit(store.df.sparkSession, k)

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        qdf = F.broadcast(
            batch_df.select(
                F.col(query_id_col),
                F.col(qvec_col),
                _q_inv_norm(qvec_col).alias("__qin"),
            )
        )
        scored = store.df.crossJoin(qdf).withColumn(
            "score",
            score_expr(
                store.vec_col, qvec_col, metric,
                inv_norm_col=INV_NORM_COL, q_inv_norm=F.col("__qin"),
            ),
        ).filter(~F.isnan(F.col("score")))
        # per-query top-k, the rank window of
        # operators.similarity.per_query_topk (k was checked once at
        # start): Spark 3.5+/4.x plans it as WindowGroupLimit
        # Partial/Final, so each map task pre-limits to k rows per
        # query BEFORE the exchange — the shuffle never carries the
        # full scored store, and (round 12) no Python boundary sits in
        # the serving hot path. Project to the three result columns
        # first so the scan stays pruned.
        topk = _rank_limit(
            scored.select(query_id_col, store.id_col, "score"),
            k,
            query_col=query_id_col,
            score_col="score",
            id_col=store.id_col,
            ascending=(metric == "euclidean"),
        )
        on_batch(topk, batch_id)

    return (
        queries.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("otters_serve")
        .start()
    )
