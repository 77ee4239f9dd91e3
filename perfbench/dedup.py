"""Corpus dedup, one part of ``dedup_serve``: the near-duplicate
removal pipeline (MinHash-LSH banding, exact Jaccard >= 0.8, connected
components, one representative kept) over a generated corpus, as
repeated batch passes."""

from __future__ import annotations

import os

from . import gen
from .harness import median

DOCS = 3_000


def _traced_pass(run, spark, corpus_dir: str, group: str) -> tuple[list, dict]:
    """The pipeline with each stage materialised on its own, under its
    own job group, so each stage's time and jobs are measured alone."""
    from pyspark.sql import functions as F

    from otters_spark import suite
    from otters_spark.functions.text import distinct_tokens_expr, jaccard_expr
    from otters_spark.operators.dedup import (
        keep_representatives, minhash_lsh_candidates, minhash_signatures,
    )

    tr, counters = run.tracer, run.counters
    blocks = list(suite._BLOCKS)
    stats: dict = {}

    def stage(name, fn):
        counters.begin(f"{group}/{name}")
        try:
            with tr.span(f"dedup.{name}"):
                value = fn()
        finally:
            counters.end()
        stats[name] = counters.read(f"{group}/{name}")
        return value

    docs = spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))
    sigs = stage("signatures", lambda: minhash_signatures(
        docs, n_hashes=16, keep_cols=blocks).localCheckpoint())
    cand = stage("candidates", lambda: minhash_lsh_candidates(
        docs, n_hashes=16, bands=2, block_cols=blocks, signatures=sigs).localCheckpoint())
    toks = docs.select(
        F.col("doc_id"),
        F.transform(distinct_tokens_expr("text"), lambda t: F.xxhash64(t)).alias("__w"),
    )
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("__w").alias("__wa"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("__w").alias("__wb"))
    pairs = stage("verify", lambda: (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", F.round(jaccard_expr("__wa", "__wb"), 6))
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b")
        .localCheckpoint()
    ))
    rows = stage("cc", lambda: (
        keep_representatives(docs, pairs)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"),
             F.sum(F.col("doc_id").cast("decimal(38,0)")).cast("long").alias("id_sum"))
        .orderBy("lang")
        .collect()
    ))
    stats["candidates_n"] = cand.count()
    stats["verified_n"] = pairs.count()
    return rows, stats


class Dedup:
    """Whole passes of the pipeline over the generated corpus, each one
    op of kind ``dedup``; in a traced run every other pass is traced
    stage by stage."""

    def __init__(self, run, work: str, seed: int):
        self.run = run
        self.corpus_dir = os.path.join(work, "in", "corpus")
        self.warm_dir = os.path.join(work, "in", "warm")
        gen.corpus(os.path.join(self.corpus_dir, "documents.parquet"), seed, DOCS)
        # the warm-up corpus has the real one's size, so the first timed
        # pass finds the JVM as warm as the later ones
        gen.corpus(os.path.join(self.warm_dir, "documents.parquet"), seed, DOCS, stream="warmup")
        self.passes: list[dict] = []
        self.stage_stats: list[dict] = []

    def warm(self, spark) -> None:
        """One untimed pass over the warm-up corpus."""
        from otters_spark import suite

        suite.pipeline_dedup_end_to_end(spark, self.warm_dir).collect()

    def step(self, spark) -> None:
        from otters_spark import suite

        i = len(self.passes)
        if self.run.trace and i % 2 == 0:
            group = f"dedup-{i}"
            rec = self.run.op(f"dedup-pass-{i}", "dedup",
                              lambda: _traced_pass(self.run, spark, self.corpus_dir, group), True)
            if rec["ok"]:
                rows, st = rec["value"]
                self.stage_stats.append(st)
                rec["value"] = rows
                rec["spark"] = {k: sum(st[s][k] for s in ("signatures", "candidates", "verify", "cc"))
                                for k in st["cc"] if k != "job_spans"}
        else:
            rec = self.run.op(f"dedup-pass-{i}", "dedup",
                              lambda: suite.pipeline_dedup_end_to_end(spark, self.corpus_dir).collect())
        self.passes.append(rec)

    def verify(self) -> None:
        """Every pass against the DuckDB oracle on the same file."""
        import duckdb

        from otters_spark import suite

        con = duckdb.connect()
        try:
            path = os.path.join(self.corpus_dir, "documents.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            self.want = [tuple(r) for r in con.execute(suite.PIPELINE_DEDUP_END_TO_END_SQL).fetchall()]
        finally:
            con.close()
        for rec in self.passes:
            if rec["ok"]:
                got = [(r["lang"], r["n_kept"], r["id_sum"]) for r in rec["value"]]
                if got != self.want:
                    self.run.fail(rec, f"kept docs per lang {got} != oracle {self.want}")

    def layers(self) -> dict:
        tr = self.run.tracer
        cand = [st["candidates_n"] for st in self.stage_stats]
        verified = [st["verified_n"] for st in self.stage_stats]
        plain = [r["latency"] for r in self.passes if r["ok"] and not r["traced"]]
        return {
            "dedup.signatures_s": median(tr.durations("dedup.signatures")),
            "dedup.candidates_s": median(tr.durations("dedup.candidates")),
            "dedup.verify_s": median(tr.durations("dedup.verify")),
            "dedup.cc_s": median(tr.durations("dedup.cc")),
            "dedup.cc_jobs": median(st["cc"]["jobs"] for st in self.stage_stats),
            "dedup.candidates": median(cand),
            "dedup.verified_pairs": median(verified),
            "dedup.verify_yield": (sum(verified) / sum(cand)) if sum(cand) else 0.0,
            "dedup.kept_docs": float(sum(n for _, n, _ in self.want)),
            "dedup.docs_per_s": DOCS / median(plain) if plain else 0.0,
        }
