"""Exact answers computed with numpy, outside the timed region."""

from __future__ import annotations

import numpy as np

TOL = 1e-5


def scores(x: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    """The engine's score for every row of ``x`` (float64, as the engine
    accumulates): cosine, dot, or squared euclidean distance."""
    x64, q64 = x.astype(np.float64), q.astype(np.float64)
    if metric == "dot":
        return x64 @ q64
    if metric == "cosine":
        xn = np.sqrt((x64 * x64).sum(axis=1))
        qn = np.sqrt(q64 @ q64)
        inv_x = np.divide(1.0, xn, out=np.zeros_like(xn), where=xn > 0)
        return (x64 @ q64) * inv_x * (1.0 / qn if qn > 0 else 0.0)
    if metric == "euclidean":
        d = x64 - q64
        return (d * d).sum(axis=1)
    raise ValueError(metric)


def topk_mismatch(
    got_ids, got_scores, cand_ids: np.ndarray, cand_scores: np.ndarray, k: int, ascending: bool
) -> str | None:
    """None when ``got`` is an exact top-k of the candidates: the right
    count, every id a candidate carrying its exact score, and the scores
    those of the exact top-k. Rows whose scores tie within 1e-5 may
    swap."""
    want = min(k, len(cand_ids))
    if len(got_ids) != want:
        return f"{len(got_ids)} rows, expected {want}"
    if want == 0:
        return None
    order = np.argsort(cand_ids)
    sorted_ids = cand_ids[order]
    got_ids = np.asarray(got_ids, dtype=np.int64)
    got_scores = np.asarray(got_scores, dtype=np.float64)
    pos = np.searchsorted(sorted_ids, got_ids)
    pos = np.minimum(pos, len(sorted_ids) - 1)
    if not np.array_equal(sorted_ids[pos], got_ids):
        bad = got_ids[sorted_ids[pos] != got_ids][:3].tolist()
        return f"ids {bad} are not candidates (filtered out or deleted)"
    exact = cand_scores[order][pos]
    tol = TOL * np.maximum(1.0, np.abs(exact))
    if np.any(np.abs(exact - got_scores) > tol):
        return "returned scores differ from exact scores"
    best = np.sort(cand_scores)
    best = best[:want] if ascending else best[::-1][:want]
    mine = np.sort(got_scores)
    mine = mine if ascending else mine[::-1]
    if np.any(np.abs(best - mine) > TOL * np.maximum(1.0, np.abs(best))):
        return "returned rows are not the exact top-k"
    return None
