"""Streaming vector search: the streaming serving paths must produce
exactly the batch scoring results (batch-as-oracle, like the events
streams)."""

import json

import pytest

from otters_spark.store import MetaStore
from otters_spark.streaming.serving import serve_query_stream, stream_static_scores

QUERY_SCHEMA = "query_id long, qvec array<double>"


def _write_queries(spark, path, queries):
    import os

    os.makedirs(path, exist_ok=True)
    with open(f"{path}/q.json", "w") as f:
        for qid, v in queries:
            f.write(json.dumps({"query_id": qid, "qvec": v}) + "\n")


def _queries(spark, sf_dir, n=3):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(n).collect()
    return [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(emb)]


def test_stream_static_matches_batch(spark, sf_dir, tmp_path):
    qs = _queries(spark, sf_dir)
    qdir = str(tmp_path / "queries")
    _write_queries(spark, qdir, qs)

    stream_in = spark.readStream.schema(QUERY_SCHEMA).json(qdir)
    out = stream_static_scores(stream_in, _store(spark, sf_dir), threshold=0.2)
    q = (
        out.writeStream.format("memory")
        .queryName("svc_scores")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("select * from svc_scores")

    # batch oracle: same scoring expression over a batch DataFrame
    batch_in = spark.read.schema(QUERY_SCHEMA).json(qdir)
    batch = stream_static_scores(batch_in, _store(spark, sf_dir), threshold=0.2)
    key = ["query_id", "vec_id"]
    a = [(r["query_id"], r["vec_id"], round(r["score"], 9)) for r in streamed.orderBy(*key).collect()]
    b = [(r["query_id"], r["vec_id"], round(r["score"], 9)) for r in batch.orderBy(*key).collect()]
    assert a == b and a


def _store(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return MetaStore.from_df(emb, vec_col="embedding", id_col="vec_id")


def test_serve_query_stream_topk(spark, sf_dir, tmp_path):
    qs = _queries(spark, sf_dir)
    qdir = str(tmp_path / "queries2")
    _write_queries(spark, qdir, qs)
    store = _store(spark, sf_dir)

    got = []
    stream_in = spark.readStream.schema(QUERY_SCHEMA).json(qdir)
    q = serve_query_stream(
        stream_in,
        store,
        on_batch=lambda df, bid: got.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        k=5,
    )
    q.processAllAvailable()
    q.stop()

    # each query's own vector must rank first with score ~1 (self-match)
    assert len(got) == len(qs) * 5
    by_query = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append(r)
    for qid, vec in qs:
        rows = sorted(by_query[qid], key=lambda r: -r["score"])
        assert rows[0]["vec_id"] == qid and rows[0]["score"] == pytest.approx(1.0)


def test_serve_query_stream_k_above_window_limit_raises_before_start(
    spark, sf_dir, tmp_path
):
    """The k limit is checked once, when serving starts — not inside
    each micro-batch, where the failure would only surface as a dead
    stream."""
    from otters_spark import TopKLimitError

    qdir = str(tmp_path / "queries3")
    _write_queries(spark, qdir, _queries(spark, sf_dir, n=1))
    before = len(spark.streams.active)
    with pytest.raises(TopKLimitError):
        serve_query_stream(
            spark.readStream.schema(QUERY_SCHEMA).json(qdir),
            _store(spark, sf_dir),
            on_batch=lambda df, bid: None,
            checkpoint_dir=str(tmp_path / "ckpt3"),
            k=1001,
        )
    assert len(spark.streams.active) == before
