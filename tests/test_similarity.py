"""Similarity-search operators: exactness of the matmul path, recall of
the approximate paths against brute force on real testdata."""

import pytest
from pyspark.sql import functions as F

from otters_spark.operators.similarity import (
    hyperplanes,
    ivf_build,
    ivf_search,
    lsh_index,
    lsh_search,
    pandas_matmul_topk,
)
from otters_spark.store import VecStore
from otters_spark.suite import Q7, Q11


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def brute_top10(emb):
    store = VecStore.from_df(emb, vec_col="embedding", dim=64, validate=False)
    return [r["vec_id"] for r in store.query(Q7, "cosine").take(10).collect()]


def test_pandas_matmul_matches_codegen_path(emb):
    store = VecStore.from_df(emb, vec_col="embedding", dim=64, validate=False)
    native = store.query([Q7, Q11], "dot").take(10).collect()
    arrow = pandas_matmul_topk(emb, [Q7, Q11], k=10, metric="dot").collect()
    assert [r["vec_id"] for r in native] == [r["vec_id"] for r in arrow]
    for a, b in zip(native, arrow):
        assert abs(a["score"] - b["score"]) < 1e-9


def test_lsh_recall_against_brute_force(emb, brute_top10):
    # gaussian data has no cluster structure, so hyperplane LSH recall
    # is mediocre by nature; 4 planes + 3 probes scans 4/16 buckets and
    # lands ~0.6 recall on this corpus
    planes = hyperplanes(64, n_planes=4, seed=42)
    indexed = lsh_index(emb, planes)
    got = [r["vec_id"] for r in lsh_search(indexed, Q7, planes, k=10, multiprobe=3).collect()]
    recall = len(set(got) & set(brute_top10)) / 10
    assert recall >= 0.5, f"LSH recall@10 too low: {recall}"
    # scores inside the candidate set are exact: top hit must be the
    # true best within its bucket set
    assert len(got) == 10


def test_ivf_recall_against_brute_force(emb, brute_top10):
    assigned, centroids = ivf_build(emb, n_cells=8, seed=42)
    got = [r["vec_id"] for r in ivf_search(assigned, centroids, Q7, k=10, nprobe=4).collect()]
    recall = len(set(got) & set(brute_top10)) / 10
    assert recall >= 0.3, f"IVF recall@10 too low: {recall}"


def test_ivf_assign_matches_build_and_extends_search(emb, spark):
    """Incremental maintenance: ivf_assign on the SAME vectors must
    reproduce MLlib's own cell assignment (both are argmin over the
    identical centroids), and an appended exact-duplicate vector must
    land in its twin's cell and surface in search."""
    from otters_spark.operators.similarity import ivf_assign

    assigned, centroids = ivf_build(emb, n_cells=8, seed=42)
    ours = ivf_assign(emb, centroids)
    mismatch = (
        assigned.select("vec_id", "ivf_cell")
        .join(
            ours.select("vec_id", F.col("ivf_cell").alias("c2")), "vec_id"
        )
        .filter(F.col("ivf_cell") != F.col("c2"))
        .count()
    )
    assert mismatch == 0
    # append a clone of vec 0 with a fresh id; it must join its twin
    row = emb.filter(F.col("vec_id") == 0).collect()[0]
    new = spark.createDataFrame(
        [(999999, row["embedding"], row["label"])], emb.schema
    )
    new_assigned = ivf_assign(new, centroids)
    twin_cell = assigned.filter(F.col("vec_id") == 0).collect()[0]["ivf_cell"]
    assert new_assigned.collect()[0]["ivf_cell"] == twin_cell
    grown = assigned.unionByName(new_assigned)
    got = [
        r["vec_id"]
        for r in ivf_search(
            grown, centroids, [float(x) for x in row["embedding"]], k=2, nprobe=1
        ).collect()
    ]
    assert set(got) == {0, 999999}  # both exact matches found


def test_ivf_search_batch_matches_sequential(emb):
    """One-job batch search returns exactly the per-query results of
    the sequential loop (same probe cells, same scores, same order)."""
    from otters_spark.operators.similarity import ivf_search_batch

    assigned, centroids = ivf_build(emb, n_cells=8, seed=42)
    batch = ivf_search_batch(assigned, centroids, [Q7, Q11], k=5, nprobe=3)
    rows = batch.collect()
    by_q = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], -r["score"], r["vec_id"])):
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], round(r["score"], 9)))
    for qid, q in enumerate([Q7, Q11]):
        seq = [
            (r["vec_id"], round(r["score"], 9))
            for r in ivf_search(assigned, centroids, q, k=5, nprobe=3).collect()
        ]
        assert by_q[qid] == seq, f"query {qid} diverged"


def test_lsh_search_batch_matches_sequential(emb):
    from otters_spark.operators.similarity import lsh_search_batch

    planes = hyperplanes(64, n_planes=4, seed=42)
    indexed = lsh_index(emb, planes)
    batch = lsh_search_batch(indexed, [Q7, Q11], planes, k=5, multiprobe=3)
    by_q = {}
    for r in sorted(
        batch.collect(), key=lambda r: (r["query_id"], -r["score"], r["vec_id"])
    ):
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], round(r["score"], 9)))
    for qid, q in enumerate([Q7, Q11]):
        seq = [
            (r["vec_id"], round(r["score"], 9))
            for r in lsh_search(indexed, q, planes, k=5, multiprobe=3).collect()
        ]
        assert by_q[qid] == seq, f"query {qid} diverged"


def test_lsh_bucket_is_deterministic(emb):
    planes = hyperplanes(64, n_planes=8, seed=42)
    a = lsh_index(emb, planes).select("vec_id", "lsh_bucket").orderBy("vec_id").collect()
    b = lsh_index(emb, planes).select("vec_id", "lsh_bucket").orderBy("vec_id").collect()
    assert a == b


# --- product quantization ----------------------------------------------


@pytest.fixture(scope="module")
def pq(emb):
    from otters_spark.operators.similarity import pq_encode, pq_train

    cb = pq_train(emb, dim=64, n_subspaces=8, n_codes=16, seed=42, max_iter=5)
    enc = pq_encode(emb, cb)
    enc.cache().count()
    return cb, enc


def test_pq_shapes_and_code_range(emb, pq):
    cb, enc = pq
    assert cb.shape == (8, 16, 8)
    rows = enc.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 16 for c in r["pq_code"])


def test_pq_adc_score_matches_numpy(emb, pq):
    """The codegen table-lookup sum must equal the NumPy ADC distance."""
    import numpy as np
    from otters_spark.operators.similarity import pq_search

    cb, enc = pq
    q = np.asarray(Q7, dtype=np.float64).reshape(8, 8)
    table = ((cb - q[:, None, :]) ** 2).sum(axis=2)
    got = {r["vec_id"]: r["approx_score"] for r in pq_search(enc, cb, Q7, k=25).collect()}
    codes = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
    for vid, s in got.items():
        want = sum(table[m, c] for m, c in enumerate(codes[vid]))
        assert abs(s - want) < 1e-9


def test_pq_rerank_recall_against_brute_force(emb, pq):
    from otters_spark.functions.vector import score_expr
    from otters_spark.operators.similarity import pq_search

    cb, enc = pq
    qlit = F.array(*[F.lit(float(x)) for x in Q7])
    exact = (
        emb.withColumn("s", score_expr("embedding", qlit, "euclidean"))
        .orderBy(F.col("s").asc(), F.col("vec_id").asc())
        .limit(10)
    )
    want = {r["vec_id"] for r in exact.collect()}
    out = pq_search(enc, cb, Q7, k=10, store=emb, rerank=100).collect()
    got = {r["vec_id"] for r in out}
    recall = len(got & want) / 10
    # gaussian corpus (no cluster structure) is PQ's hard case; the
    # exact-rerank tail restores most of the recall
    assert recall >= 0.5, f"PQ rerank recall@10 too low: {recall}"
    # reranked scores are exact: verify the top hit's score
    top = out[0]
    srow = exact.first()
    assert abs(top["score"] - srow["s"]) < 1e-9 or top["vec_id"] != srow["vec_id"]


def test_pq_validation(emb):
    import numpy as np
    from otters_spark.operators.similarity import pq_search, pq_train

    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, dim=64, n_subspaces=7)
    cb = np.zeros((8, 16, 8))
    with pytest.raises(ValueError, match="metrics"):
        pq_search(emb.limit(0), cb, Q7, k=5, metric="cosine")


def test_ivfpq_composition(emb, pq):
    """SCALE.md's IVFPQ claim: IVF cells prune the scan, PQ codes
    shrink what's scanned — composition must return k exact-reranked
    rows with sane recall."""
    import numpy as np
    from otters_spark.functions.vector import score_expr
    from otters_spark.operators.similarity import ivf_build, pq_search

    cb, enc = pq
    assigned, centroids = ivf_build(emb, n_cells=8, seed=42, max_iter=5)
    q = np.asarray(Q7, dtype=np.float64)
    d2 = ((centroids - q[None, :]) ** 2).sum(1)
    cells = [int(c) for c in np.argsort(d2)[:4]]
    cand = assigned.filter(F.col("ivf_cell").isin(cells)).select("vec_id")
    sub = enc.join(cand, "vec_id")
    out = pq_search(sub, cb, Q7, k=10, store=emb, rerank=100).collect()
    assert len(out) == 10
    qlit = F.array(*[F.lit(float(x)) for x in Q7])
    want = {
        r["vec_id"]
        for r in emb.withColumn("s", score_expr("embedding", qlit, "euclidean"))
        .orderBy(F.col("s").asc(), F.col("vec_id").asc())
        .limit(10)
        .collect()
    }
    got = {r["vec_id"] for r in out}
    # two stacked approximations (cell prune + PQ candidates) on
    # gaussian data: recall floor is loose by design
    assert len(got & want) / 10 >= 0.3


def test_maxsim_matches_numpy(spark):
    import numpy as np

    from otters_spark.operators.similarity import maxsim_topk

    rng = np.random.default_rng(17)
    n_groups, toks_per, d = 12, 4, 8
    vecs = rng.normal(size=(n_groups * toks_per, d))
    rows = [
        (int(i // toks_per), [float(x) for x in vecs[i]])
        for i in range(len(vecs))
    ]
    df = spark.createDataFrame(rows, "group_id long, embedding array<double>")
    qs = rng.normal(size=(3, d))
    got = {
        r["group_id"]: r["score"]
        for r in maxsim_topk(df, [list(q) for q in qs], k=5).collect()
    }

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    exp = {}
    for g in range(n_groups):
        block = vecs[g * toks_per : (g + 1) * toks_per]
        exp[g] = sum(max(cos(q, t) for t in block) for q in qs)
    top5 = sorted(exp, key=lambda g: (-exp[g], g))[:5]
    assert sorted(got) == sorted(top5)
    for g in got:
        assert abs(got[g] - exp[g]) < 1e-9
    with pytest.raises(ValueError):
        maxsim_topk(df, [list(qs[0])], k=0)


def test_embedding_dim_stats_vs_numpy(spark, sf_dir):
    import numpy as np

    from otters_spark.operators.similarity import embedding_dim_stats

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mat = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    out = embedding_dim_stats(emb, "embedding").collect()
    assert [r["dim"] for r in out] == list(range(mat.shape[1]))
    for r in out:
        col = mat[:, r["dim"]]
        assert r["n"] == len(col)
        assert abs(r["mean"] - round(float(col.mean()), 6)) <= 1e-6
        assert abs(r["std"] - round(float(col.std(ddof=1)), 6)) <= 1e-6
        assert r["min"] == float(col.min())
        assert r["max"] == float(col.max())
        assert r["zero_frac"] == round(float((col == 0).mean()), 6)


def test_embedding_dim_stats_flags_dead_and_shifted_dims(spark):
    from otters_spark.operators.similarity import embedding_dim_stats

    rows = [([0.0, 5.0 + i, float(i % 3)],) for i in range(30)]
    df = spark.createDataFrame(rows, "embedding array<float>")
    out = {r["dim"]: r for r in embedding_dim_stats(df).collect()}
    assert out[0]["std"] == 0.0 and out[0]["zero_frac"] == 1.0  # dead dim
    assert out[1]["mean"] > 5.0  # shifted mean
    assert out[2]["zero_frac"] == round(10 / 30, 6)


def test_label_centroids_vs_numpy(spark, sf_dir):
    import numpy as np

    from otters_spark.operators.similarity import label_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.select("label", "embedding").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r["embedding"])
    got = {r["label"]: r for r in label_centroids(emb).collect()}
    assert set(got) == set(by_label)
    for lbl, vecs in by_label.items():
        mat = np.array(vecs, dtype=np.float64)
        assert got[lbl]["n_vectors"] == len(vecs)
        want = [round(float(x), 6) for x in mat.mean(axis=0)]
        assert got[lbl]["centroid"] == pytest.approx(want, abs=1e-9)


def test_label_centroids_null_vector_skipped(spark):
    from otters_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [(0, [1.0, 3.0]), (0, [3.0, 5.0]), (0, None), (1, [2.0, 2.0])],
        "label int, embedding array<double>",
    )
    got = {r["label"]: r for r in label_centroids(df).collect()}
    assert got[0]["n_vectors"] == 2 and got[0]["centroid"] == [2.0, 4.0]
    assert got[1]["n_vectors"] == 1 and got[1]["centroid"] == [2.0, 2.0]


def test_prototype_outliers_planted_mislabels(spark):
    """Vectors planted far from their label's cluster must surface as
    the worst-fit candidates, and scores must match NumPy."""
    import numpy as np

    from otters_spark.operators.similarity import prototype_outliers

    rng = np.random.default_rng(3)
    rows = []
    vid = 0
    for lbl, center in [(0, np.array([5.0, 0.0, 0.0])), (1, np.array([0.0, 5.0, 0.0]))]:
        for _ in range(20):
            rows.append((vid, lbl, (center + rng.normal(0, 0.3, 3)).tolist()))
            vid += 1
    # two mislabels: label-0 rows sitting in label 1's cluster
    planted = {vid, vid + 1}
    rows.append((vid, 0, [0.0, 5.1, 0.1])); vid += 1
    rows.append((vid, 0, [0.2, 4.9, 0.0])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    out = prototype_outliers(df, n_flag=2, id_col="vec_id").collect()
    worst0 = {r["vec_id"] for r in out if r["label"] == 0}
    assert worst0 == planted
    # NumPy parity on one flagged row
    mat0 = np.array([e for _, l, e in rows if l == 0])
    cent = np.round(mat0.mean(axis=0), 12)
    flagged = next(r for r in out if r["vec_id"] == min(planted))
    v = np.array(dict((i, e) for i, l, e in rows)[min(planted)])
    want = round(float(v @ cent / (np.linalg.norm(v) * np.linalg.norm(cent))), 6)
    assert flagged["proto_cos"] == pytest.approx(want, abs=1e-9)


def test_binary_pack_roundtrip(spark):
    from otters_spark.operators.similarity import (
        binary_index,
        pack_sign_bits_py,
    )

    # 70 dims forces a 2-word packing and exercises the bit-63 wrap
    vec = [(1.0 if i % 3 == 0 else -1.0) for i in range(70)]
    vec[63] = 1.0  # top bit of word 0
    df = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<double>")
    got = binary_index(df, dim=70).collect()[0]["sign_bits"]
    assert got == pack_sign_bits_py(vec)
    # python-side reference: reconstruct the bit pattern
    want0 = 0
    for i in range(64):
        if vec[i] > 0:
            want0 |= 1 << i
    if want0 >= 1 << 63:
        want0 -= 1 << 64
    assert got[0] == want0


def test_binary_search_recall_and_exact_rerank(emb, brute_top10):
    import numpy as np

    from otters_spark.operators.similarity import binary_index, binary_search

    idx = binary_index(emb, dim=64)
    out = binary_search(idx, Q7, k=10, dim=64, shortlist=100).toPandas()
    # shortlist=100 over 500 vectors: near-perfect recall expected
    recall = len(set(out.vec_id) & set(brute_top10)) / 10
    assert recall >= 0.8, recall
    # reranked scores are the EXACT cosine (match numpy to fp noise)
    pdf = emb.toPandas()
    V = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    q = np.array(Q7)
    cos = (V @ q) / (np.linalg.norm(V, axis=1) * np.linalg.norm(q))
    by_id = dict(zip(pdf.vec_id, cos))
    for r in out.itertuples():
        assert abs(by_id[r.vec_id] - r.score) < 1e-9
    # hamming column really is the sign-mismatch count
    sm = dict(zip(pdf.vec_id, ((V > 0) != (q > 0)).sum(axis=1)))
    for r in out.itertuples():
        assert sm[r.vec_id] == r.hamming


def test_binary_search_rejects_dim_mismatch(emb):
    from otters_spark.operators.similarity import binary_index, binary_search

    idx = binary_index(emb, dim=64)
    with pytest.raises(ValueError, match="dim"):
        binary_search(idx, [1.0, 2.0], k=5, dim=64)


def test_mmr_rerank_matches_distributed_reference(spark):
    """The round-11 driver-side greedy must reproduce the former
    per-step distributed loop EXACTLY — picks, order, and every
    JVM-rounded mmr_score — including on pools with engineered rel
    ties and near-duplicate clusters."""
    import numpy as np

    from pyspark.sql import functions as F
    from otters_spark.functions.vector import cosine_expr, inv_norm_expr
    from otters_spark.operators.similarity import mmr_rerank

    def reference(cand, k, lam, round_to=6):
        # the pre-round-11 shape: one scheduled job per pick
        pool = cand.select(
            F.col("vec_id"),
            F.col("embedding").alias("__v"),
            F.round(F.col("score"), round_to).alias("__rel"),
        ).localCheckpoint(eager=False)
        a = pool.select(F.col("vec_id").alias("__ia"), F.col("__v").alias("__va"))
        b = pool.select(F.col("vec_id").alias("__ib"), F.col("__v").alias("__vb"))
        sims = a.join(F.broadcast(b), F.col("__ia") != F.col("__ib")).select(
            "__ia", "__ib",
            F.round(
                cosine_expr("__va", "__vb", inv_norm_expr("__va"), inv_norm_expr("__vb")),
                round_to,
            ).alias("__sim"),
        ).localCheckpoint(eager=False)
        first = (
            pool.orderBy(F.col("__rel").desc(), F.col("vec_id").asc())
            .limit(1).select("vec_id", "__rel").collect()
        )
        picked = [first[0]["vec_id"]]
        rows = [(1, first[0]["vec_id"], first[0]["__rel"], first[0]["__rel"])]
        for step in range(2, k + 1):
            nxt = (
                sims.filter(F.col("__ib").isin(picked) & ~F.col("__ia").isin(picked))
                .groupBy("__ia").agg(F.max("__sim").alias("__ms"))
                .join(pool.select(F.col("vec_id").alias("__ia"), "__rel"), "__ia")
                .withColumn(
                    "__mmr",
                    F.round(
                        F.lit(lam) * F.col("__rel") - F.lit(1.0 - lam) * F.col("__ms"),
                        round_to,
                    ),
                )
                .orderBy(F.col("__mmr").desc(), F.col("__ia").asc())
                .limit(1).collect()
            )
            if not nxt:
                break
            picked.append(nxt[0]["__ia"])
            rows.append((step, nxt[0]["__ia"], nxt[0]["__rel"], nxt[0]["__mmr"]))
        return rows

    rng = np.random.default_rng(17)
    # 3 clusters of near-dups + uniform noise; duplicated vectors make
    # exact rel/sim TIES so the id tie-break is genuinely exercised
    centers = rng.normal(size=(3, 8))
    vecs = [c + rng.normal(scale=0.01, size=8) for c in centers for _ in range(6)]
    vecs += [rng.normal(size=8) for _ in range(8)]
    vecs += [vecs[0], vecs[7]]  # exact duplicates -> tied everywhere
    q = rng.normal(size=8)
    rows = []
    for i, v in enumerate(vecs):
        rel = float(np.round(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)), 6))
        rows.append((i, [float(x) for x in v], rel))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, score double")
    for k, lam in [(5, 0.7), (10, 0.5), (30, 0.3)]:
        got = [
            (r["mmr_rank"], r["vec_id"], r["relevance"], r["mmr_score"])
            for r in mmr_rerank(df, k=k, lam=lam).collect()
        ]
        assert got == reference(df, k, lam), (k, lam)


def test_mmr_rerank_diversifies(spark):
    import numpy as np

    from otters_spark.operators.similarity import mmr_rerank

    # three near-identical vectors aligned with q, one orthogonal-ish:
    # plain top-3 would take the three clones; MMR at lam=0.5 must
    # pick one clone, then the diverse vector second
    rows = [
        (1, [1.0, 0.0, 0.01]),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.99, 0.0, 0.0]),
        (4, [0.3, 0.95, 0.0]),
    ]
    q = np.array([1.0, 0.1, 0.0])
    V = np.array([r[1] for r in rows])
    rel = np.round((V @ q) / (np.linalg.norm(V, axis=1) * np.linalg.norm(q)), 6)
    scored = spark.createDataFrame(
        [(i, v, float(s)) for (i, v), s in zip(rows, rel)],
        "vec_id long, embedding array<double>, score double",
    )
    out = mmr_rerank(scored, k=3, lam=0.5).collect()
    order = [r["vec_id"] for r in out]
    assert order[0] == 2  # highest relevance (exactly aligned)
    assert order[1] == 4  # the diverse one jumps the clones
    assert [r["mmr_rank"] for r in out] == [1, 2, 3]


def test_mmr_rerank_validates(spark):
    from otters_spark.operators.similarity import mmr_rerank

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0.9)], "vec_id long, embedding array<double>, score double"
    )
    with pytest.raises(ValueError, match="k must"):
        mmr_rerank(df, k=0)
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(df, k=1, lam=1.5)


def test_gram_matrix_exact_vs_numpy(spark):
    """Integer-snapped Gram == numpy on the SAME quantized vectors,
    independent of partitioning; NULL/ragged vectors dropped."""
    import numpy as np

    from otters_spark.operators.similarity import gram_matrix

    rng = np.random.default_rng(11)
    M = rng.normal(size=(40, 5)).astype(np.float32)
    rows = [(i, [float(x) for x in M[i]]) for i in range(40)]
    rows += [(100, None), (101, [1.0, 2.0])]  # dropped
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for nparts in (1, 7):
        got = {
            (r["i"], r["j"]): (r["n"], r["gram_scaled"])
            for r in gram_matrix(
                df.repartition(nparts), "embedding", dim=5
            ).collect()
        }
        Vq = np.floor(M.astype(np.float64) * 1_000_000 + 0.5).astype(np.int64)
        G = Vq.T @ Vq
        assert len(got) == 15
        for (i, j), (n, g) in got.items():
            assert n == 40 and g == G[i, j], (i, j, nparts)


def test_pca_recovers_planted_direction(spark):
    """A strongly anisotropic cloud: top component must align with the
    planted axis, projection variance must land on the eigenvalue, and
    components must be orthonormal."""
    import numpy as np

    from otters_spark.operators.similarity import pca_fit, pca_project

    rng = np.random.default_rng(5)
    axis = np.array([3.0, 0.0, 4.0]) / 5.0
    X = (
        rng.normal(scale=2.0, size=(500, 1)) * axis[None, :]
        + rng.normal(scale=0.05, size=(500, 3))
        + np.array([1.0, -2.0, 0.5])  # off-center: exercises centering
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(500)],
        "vec_id long, embedding array<float>",
    )
    mean, vals, comps = pca_fit(df, "embedding", n_components=3, dim=3)
    assert np.allclose(mean, X.astype(np.float32).mean(axis=0), atol=1e-3)
    assert abs(abs(float(comps[0] @ axis)) - 1.0) < 1e-3
    assert np.allclose(comps @ comps.T, np.eye(3), atol=1e-9)
    assert vals[0] > 100 * vals[1]
    got = (
        pca_project(df, mean, comps[:1], "embedding", round_to=9)
        .agg(F.var_samp("pc0"))
        .collect()[0][0]
    )
    assert got == pytest.approx(float(vals[0]), rel=1e-6)


def test_pca_fit_empty_and_tiny_inputs_raise(spark):
    from otters_spark.operators.similarity import gram_matrix, pca_fit

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        gram_matrix(empty, "embedding")
    one = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="at least 2"):
        pca_fit(one, "embedding", dim=2)


def test_pca_fit_dirty_rows_match_clean_subset(spark):
    """NULL, ragged-short, and OVER-LENGTH vectors must be excluded
    from BOTH passes (Gram and mean): pca_fit on the dirty frame must
    be bit-identical to pca_fit on the clean subset — previously the
    mean pass folded rows the Gram pass dropped, skewing the
    covariance (and an over-length vector crashed the driver
    assembly with an IndexError)."""
    import numpy as np

    from otters_spark.operators.similarity import pca_fit

    rng = np.random.default_rng(11)
    X = rng.normal(size=(200, 4))
    clean_rows = [(i, [float(x) for x in X[i]]) for i in range(200)]
    dirty_rows = clean_rows + [
        (900, None),                       # NULL vector
        (901, [1.0, 2.0]),                 # ragged: too short
        (902, [9.0, 9.0, 9.0, 9.0, 9.0]),  # ragged: too LONG
    ]
    schema = "vec_id long, embedding array<float>"
    clean = spark.createDataFrame(clean_rows, schema)
    dirty = spark.createDataFrame(dirty_rows, schema)
    m_c, v_c, c_c = pca_fit(clean, "embedding", n_components=2, dim=4)
    m_d, v_d, c_d = pca_fit(dirty, "embedding", n_components=2, dim=4)
    assert np.array_equal(m_c, m_d)
    assert np.array_equal(v_c, v_d)
    assert np.array_equal(c_c, c_d)


def test_ivf_build_srp_deterministic(emb):
    import numpy as np

    from otters_spark.operators.similarity import ivf_build_srp

    _, c1 = ivf_build_srp(emb, n_bits=4, dim=64)
    _, c2 = ivf_build_srp(emb, n_bits=4, dim=64)
    f1, f2 = np.isfinite(c1), np.isfinite(c2)
    # bit-identical across runs: exact same cells, exact same means
    assert (f1 == f2).all() and np.array_equal(c1[f1], c2[f2])
    assert c1.shape == (16, 64)


def test_ivf_build_srp_cell_is_sign_signature(emb):
    from otters_spark.operators.similarity import ivf_build_srp

    assigned, _ = ivf_build_srp(emb, n_bits=4, dim=64)
    for r in assigned.select("embedding", "ivf_cell").take(20):
        v = r["embedding"]
        expect = sum((1 << i) for i in range(4) if v[i] > 0)
        assert r["ivf_cell"] == expect


def test_ivf_srp_recall_against_brute_force(emb, brute_top10):
    from otters_spark.operators.similarity import ivf_build_srp

    assigned, centroids = ivf_build_srp(emb, n_bits=4, dim=64)
    got = [
        r["vec_id"]
        for r in ivf_search(assigned, centroids, Q7, k=10, nprobe=6).collect()
    ]
    recall = len(set(got) & set(brute_top10)) / 10
    # quadrant cells are not Voronoi-fitted; 6/16 probes still must
    # recover a usable fraction on gaussian data
    assert recall >= 0.3, f"SRP-IVF recall@10 too low: {recall}"


def test_pq_build_srp_shapes_and_rerank_exactness(emb, spark):
    import numpy as np

    from otters_spark.operators.similarity import pq_build_srp, pq_search
    from otters_spark.suite import Q13

    enc, cb = pq_build_srp(emb, dim=64, n_subspaces=8, n_bits=4)
    assert cb.shape == (8, 16, 8)
    codes = enc.select("pq_code").take(20)
    assert all(0 <= c < 16 for r in codes for c in r["pq_code"])

    # reranked scores are exact squared euclidean: verify against
    # numpy on the returned ids
    out = pq_search(enc, cb, Q13, k=10, store=emb, rerank=100).collect()
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    q = np.asarray(Q13)
    for r in out:
        exact = float(((vecs[r["vec_id"]] - q) ** 2).sum())
        assert abs(r["score"] - exact) < 1e-6

    # shortlist quality: the reranked top-10 must recover most of the
    # true euclidean top-10
    true10 = sorted(vecs, key=lambda i: ((vecs[i] - q) ** 2).sum())[:10]
    recall = len({r["vec_id"] for r in out} & set(true10)) / 10
    assert recall >= 0.6, f"SRP-PQ recall@10 too low: {recall}"


def test_ivf_srp_differential_fuzz(spark):
    """Differential: ivf_build_srp + ivf_search against a numpy
    reference of the SAME algorithm (sign cells, mean centroids,
    nprobe nearest cells, exact cosine top-k) — exact id-sequence
    match expected, not just recall (round-7 fuzz for the
    oracle-paired plan)."""
    import numpy as np

    from otters_spark.operators.similarity import ivf_build_srp

    for seed in range(3):
        rng = np.random.default_rng(100 + seed)
        n, d, bits, k, nprobe = 120, 16, 3, 8, 3
        X = rng.standard_normal((n, d))
        q = rng.standard_normal(d)
        rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])

        assigned, centroids = ivf_build_srp(df, n_bits=bits, dim=d)
        got = [
            (r["vec_id"], r["score"])
            for r in ivf_search(
                assigned, centroids, [float(x) for x in q], k=k, nprobe=nprobe
            ).collect()
        ]

        cells = ((X[:, :bits] > 0) * (1 << np.arange(bits))).sum(1)
        cents = np.full((1 << bits, d), np.inf)
        for c in np.unique(cells):
            cents[c] = X[cells == c].mean(0)
        probe = np.argsort(((cents - q) ** 2).sum(1), kind="stable")[:nprobe]
        cand = np.flatnonzero(np.isin(cells, probe))
        cos = (X[cand] @ q) / (
            np.linalg.norm(X[cand], axis=1) * np.linalg.norm(q)
        )
        order = sorted(zip(-cos, cand))[:k]
        ref = [int(i) for _, i in order]
        assert [i for i, _ in got] == ref, f"seed {seed}"
        for (i, s), (negc, _) in zip(got, order):
            assert abs(s - (-negc)) < 1e-9


def test_pq_srp_differential_fuzz(spark):
    """Differential: pq_build_srp + pq_search (ADC + exact rerank)
    against a numpy reference of the same quantizer — sign-bit codes,
    conditional-mean codebooks, ADC shortlist, exact squared-euclidean
    rerank. Exact id-sequence match expected."""
    import numpy as np

    from otters_spark.operators.similarity import pq_build_srp, pq_search

    for seed in range(3):
        rng = np.random.default_rng(200 + seed)
        n, d, M, bits, k, shortlist = 120, 16, 4, 2, 8, 40
        dsub = d // M
        X = rng.standard_normal((n, d))
        q = rng.standard_normal(d)
        rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])

        enc, cb = pq_build_srp(df, dim=d, n_subspaces=M, n_bits=bits)
        got = [
            r["vec_id"]
            for r in pq_search(
                enc, cb, [float(x) for x in q], k=k, store=df,
                rerank=shortlist,
            ).collect()
        ]

        Xs = X.reshape(n, M, dsub)
        codes = ((Xs[:, :, :bits] > 0) * (1 << np.arange(bits))).sum(2)
        books = np.full((M, 1 << bits, dsub), np.inf)
        for m in range(M):
            for c in np.unique(codes[:, m]):
                books[m, c] = Xs[codes[:, m] == c, m].mean(0)
        qs = q.reshape(M, dsub)
        table = ((books - qs[:, None, :]) ** 2).sum(2)
        adc = np.array(
            [sum(table[m, codes[i, m]] for m in range(M)) for i in range(n)]
        )
        cand = sorted(range(n), key=lambda i: (adc[i], i))[:shortlist]
        exact = {i: float(((X[i] - q) ** 2).sum()) for i in cand}
        ref = sorted(cand, key=lambda i: (exact[i], i))[:k]
        assert got == ref, f"seed {seed}"


def test_per_query_topk_matches_naive_window(emb, spark):
    """per_query_topk (rank window planned as WindowGroupLimit
    Partial/Final — bounded shuffle input) must return EXACTLY the rows
    the naive Window.partitionBy(query_id) returns, for both orderings
    — it is the scale-safe form of that window, not an
    approximation."""
    from pyspark.sql.window import Window

    from otters_spark.functions.vector import queries_df, score_expr
    from otters_spark.operators.similarity import per_query_topk
    from otters_spark.store import INV_NORM_COL, VecStore

    store = VecStore.from_df(emb, vec_col="embedding", dim=64, validate=False)
    qdf = queries_df(spark, [Q7, Q11])
    for metric, ascending in (("cosine", False), ("euclidean", True)):
        scored = store.df.crossJoin(F.broadcast(qdf)).withColumn(
            "score",
            score_expr(
                "embedding", "qvec", metric, INV_NORM_COL, F.col("q_inv_norm")
            ),
        ).select("query_id", "vec_id", "score", "label")
        direction = (
            F.col("score").asc() if ascending else F.col("score").desc()
        )
        w = Window.partitionBy("query_id").orderBy(direction, F.col("vec_id"))
        naive = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 7)
            .drop("rn")
        )
        got = per_query_topk(scored, 7, ascending=ascending)
        key = lambda r: (r["query_id"], r["vec_id"])
        assert sorted(got.collect(), key=key) == sorted(
            naive.collect(), key=key
        ), metric


def test_per_query_topk_bounded_state_across_batches(spark):
    """Exactness pin over a single-partition multi-batch input: the
    round-11 pandas partial needed a running top-k ACROSS Arrow batches
    and this test caught carry bugs; kept after the round-12 JVM
    WindowGroupLimit rewrite as a pure exactness regression (the tiny
    Arrow batch size is now irrelevant but harmless)."""
    from otters_spark.operators.similarity import per_query_topk

    rows = [(qid, i, float((i * 37 + qid * 11) % 101))
            for qid in (0, 1) for i in range(500)]
    df = spark.createDataFrame(rows, "query_id int, vec_id long, score double")
    df = df.coalesce(1)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        got = sorted(
            (r["query_id"], r["vec_id"]) for r in per_query_topk(df, 3).collect()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    expect = []
    for qid in (0, 1):
        vals = [(qid, i, float((i * 37 + qid * 11) % 101)) for i in range(500)]
        vals.sort(key=lambda t: (-t[2], t[1]))
        expect += [(qid, i) for _, i, _ in vals[:3]]
    assert got == sorted(expect)


def test_per_query_topk_null_keys_and_scores_match_naive(spark):
    """Round-11 ADVICE hazards, locked after the round-12 JVM rewrite:
    a NULL query key must form its OWN top-k group (the pandas partial
    silently dropped it — groupby dropna), and NULL scores must follow
    Spark's window NULL ordering exactly (DESC = NULLs last, ASC =
    NULLs first; the pandas partial conflated NULL with NaN). Both are
    asserted by equality against the naive window, per ordering."""
    from pyspark.sql.window import Window

    from otters_spark.operators.similarity import per_query_topk

    rows = []
    for qid in (None, 0, 1):
        for i in range(40):
            score = None if i % 7 == 0 else float((i * 13 + (qid or 2) * 5) % 23)
            rows.append((qid, i, score))
    df = spark.createDataFrame(
        rows, "query_id int, vec_id long, score double"
    ).repartition(4)
    for ascending in (False, True):
        direction = (
            F.col("score").asc() if ascending else F.col("score").desc()
        )
        w = Window.partitionBy("query_id").orderBy(direction, F.col("vec_id"))
        naive = (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .drop("rn")
        )
        got = per_query_topk(df, 5, ascending=ascending)
        key = lambda r: (
            r["query_id"] if r["query_id"] is not None else -1,
            r["vec_id"],
        )
        got_rows = sorted(got.collect(), key=key)
        assert got_rows == sorted(naive.collect(), key=key), ascending
        # the NULL query key group is present with its own top-5
        assert sum(1 for r in got_rows if r["query_id"] is None) == 5


def test_per_query_topk_k_above_window_limit_raises(spark):
    """k above spark.sql.optimizer.windowGroupLimitThreshold (default 1000)
    would silently plan a full window that ships every scored row per
    query through the exchange; it must fail fast with a named error.
    k at the threshold still plans and runs."""
    from otters_spark import TopKLimitError
    from otters_spark.operators.similarity import per_query_topk

    df = spark.createDataFrame(
        [(0, i, float(i)) for i in range(5)],
        "query_id int, vec_id long, score double",
    )
    with pytest.raises(TopKLimitError, match="k=1001"):
        per_query_topk(df, 1001)
    assert len(per_query_topk(df, 1000).collect()) == 5
