"""Seeded input generation.

Every input the engine sees is a Parquet file written here with
pyarrow, so the same seed gives byte-identical files. The query
vectors, filter parameters and op schedule come from the same seed and
are handed to the engine's public API as arguments.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "fr", "es", "zh")
TS_DOMAIN = 1_000_000_000
N_CATEGORIES = 100


def seeded(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input, so resizing one input leaves the
    # others unchanged
    return np.random.default_rng([seed, *stream.encode()])


def _vectors(rng: np.random.Generator, n: int, dim: int) -> pa.Array:
    flat = pa.array(rng.standard_normal(n * dim, dtype=np.float32))
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32)), flat
    )


def matrix(vectors: pa.ChunkedArray) -> np.ndarray:
    """A column of equal-length float32 lists as an (n, dim) array."""
    flat = vectors.combine_chunks().flatten().to_numpy()
    return flat.reshape(len(vectors), -1)


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="snappy")
    return path


def meta_rows(seed: int, stream: str, first_id: int, n: int, dim: int) -> pa.Table:
    """Store rows: ``vec_id``, ``embedding`` (float32), ``ts`` uniform
    over the whole domain, ``category`` (100 values, uniform, so an
    equality is selective but no row group can be pruned on it) and
    ``lang``."""
    rng = seeded(seed, stream)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "embedding": _vectors(rng, n, dim),
            "ts": pa.array(rng.integers(0, TS_DOMAIN, n, dtype=np.int64)),
            "category": pa.array(rng.integers(0, N_CATEGORIES, n, dtype=np.int32)),
            "lang": pa.array(np.asarray(LANGS)[rng.integers(0, len(LANGS), n)]),
        }
    )


def search_inputs(
    out_dir: str, seed: int, rows: int, dim: int, batches: int, batch_rows: int
) -> dict:
    """The base store file plus ``batches`` append files whose ids follow
    the base ids."""
    os.makedirs(out_dir, exist_ok=True)
    base = _write(meta_rows(seed, "base", 0, rows, dim), os.path.join(out_dir, "base.parquet"))
    appends = [
        _write(
            meta_rows(seed, f"append{i}", rows + i * batch_rows, batch_rows, dim),
            os.path.join(out_dir, f"append-{i:03d}.parquet"),
        )
        for i in range(batches)
    ]
    return {"base": base, "appends": appends}


def query_vectors(seed: int, n: int, dim: int) -> np.ndarray:
    return seeded(seed, "queries").standard_normal((n, dim), dtype=np.float32)


def vector_store(out_dir: str, seed: int, rows: int, dim: int) -> str:
    """A plain (id, embedding) store file for the serving workload."""
    os.makedirs(out_dir, exist_ok=True)
    rng = seeded(seed, "serve-store")
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(rows, dtype=np.int64)),
            "embedding": _vectors(rng, rows, dim),
        }
    )
    return _write(table, os.path.join(out_dir, "store.parquet"))


def query_file(path: str, query_id: int, vec: np.ndarray) -> None:
    """One query as a one-row Parquet file, written under a hidden name
    and renamed into place, so a file-source stream never lists a
    partial file."""
    table = pa.table(
        {
            "query_id": pa.array([query_id], pa.int64()),
            "qvec": pa.ListArray.from_arrays(
                pa.array([0, len(vec)], pa.int32()), pa.array(vec, pa.float32())
            ),
        }
    )
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


def corpus(
    path: str,
    seed: int,
    docs: int,
    vocab: int = 20_000,
    zipf_s: float = 1.1,
    repeats: int = 3,
    stream: str = "corpus",
) -> str:
    """Documents (``doc_id``, ``text``, ``lang``, ``source``) over a
    Zipf vocabulary, with planted near-duplicate clusters: in every ten
    documents, the second and third are rewrites of the first in the
    same block (lang, source): its tokens shuffled, ``repeats`` of them
    repeated. A rewrite keeps the token set, so every planted pair is a
    banding candidate and verifies, and every seed's corpus holds the
    same components (triangles) and takes the same number of
    connected-components rounds; only the words change."""
    rng = seeded(seed, stream)
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** zipf_s
    p /= p.sum()
    words = np.array([f"w{i}" for i in range(vocab)])
    lengths = rng.integers(60, 140, docs)
    langs = rng.integers(0, 4, docs)
    sources = rng.integers(0, 3, docs)
    toks: list[np.ndarray] = []
    for i in range(docs):
        base = i - i % 10
        if i % 10 in (1, 2):
            t = rng.permutation(np.concatenate([toks[base], rng.choice(toks[base], repeats)]))
            langs[i], sources[i] = langs[base], sources[base]
        else:
            t = rng.choice(vocab, lengths[i], p=p)
        toks.append(t)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array([" ".join(words[t]) for t in toks]),
            "lang": pa.array(np.asarray(LANGS)[langs]),
            "source": pa.array([f"src{s}" for s in sources]),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return _write(table, path)
