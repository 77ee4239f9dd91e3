"""Contract tests for the benchmark itself; they start no Spark session.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import check, gen, harness, metrics, run  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _digests(d):
    out = {}
    for dirpath, _, files in os.walk(d):
        for name in files:
            p = os.path.join(dirpath, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _generate(d, seed):
    gen.search_inputs(os.path.join(d, "search"), seed, rows=300, dim=8, batches=2, batch_rows=20)
    gen.vector_store(os.path.join(d, "serve"), seed, rows=50, dim=16)
    gen.corpus(os.path.join(d, "dedup", "documents.parquet"), seed, docs=80)
    os.makedirs(os.path.join(d, "q"))
    gen.query_file(os.path.join(d, "q", "q-0.parquet"), 0, gen.query_vectors(seed, 1, 16)[0])


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _generate(tmp_path / "a", 7)
    _generate(tmp_path / "b", 7)
    _generate(tmp_path / "c", 8)
    a, b, c = (_digests(tmp_path / x) for x in "abc")
    assert a == b
    assert len(a) == 6
    assert all(a[name] != c[name] for name in a)
    assert np.array_equal(gen.query_vectors(7, 3, 4), gen.query_vectors(7, 3, 4))


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        m[:3] for m in metrics.PER_LAYER
    ]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_result_line_carries_exactly_the_declared_metrics():
    class FakeRun:
        attempted, failures = 3, []

    units = metrics.END_TO_END_UNITS
    line = run.result_line(FakeRun(), {n: 1.5 for n in units}, units)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["attempted"] == 3 and line["failed"] == 0
    assert line["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    with pytest.raises(RuntimeError):
        run.result_line(FakeRun(), {n: 1.0 for n in list(units)[1:]}, units)
    with pytest.raises(RuntimeError):
        run.result_line(FakeRun(), {**{n: 1.0 for n in units}, "extra": 1.0}, units)


def test_topk_check_tolerates_ties_and_rejects_wrong_rows():
    ids = np.arange(6, dtype=np.int64)
    scores = np.array([0.9, 0.5, 0.9 + 1e-7, 0.1, 0.7, 0.2])
    assert check.topk_mismatch([2, 0, 4], [0.9 + 1e-7, 0.9, 0.7], ids, scores, 3, False) is None
    assert check.topk_mismatch([0, 2, 4], [0.9, 0.9 + 1e-7, 0.7], ids, scores, 3, False) is None
    assert check.topk_mismatch([0, 2, 1], [0.9, 0.9, 0.5], ids, scores, 3, False)
    assert check.topk_mismatch([0, 2], [0.9, 0.9], ids, scores, 3, False)
    assert check.topk_mismatch([9, 0, 2], [0.95, 0.9, 0.9], ids, scores, 3, False)
    assert check.topk_mismatch([3, 5], [0.1, 0.2], ids, scores, 2, True) is None


def test_scores_match_definitions():
    x = np.array([[3.0, 4.0], [0.0, 0.0]], dtype=np.float32)
    q = np.array([1.0, 0.0], dtype=np.float32)
    assert np.allclose(check.scores(x, q, "dot"), [3.0, 0.0])
    assert np.allclose(check.scores(x, q, "cosine"), [0.6, 0.0])
    assert np.allclose(check.scores(x, q, "euclidean"), [20.0, 1.0])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_search",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_steady_ops_drop_stolen_ops_but_keep_half():
    r = harness.Run(trace=False)
    ncpu = os.cpu_count() or 1
    quiet = [{"latency": 1.0, "steal": 0.0} for _ in range(4)]
    stolen = [{"latency": 1.0, "steal": 0.5 * ncpu} for _ in range(2)]
    assert r.steady(quiet) == quiet
    assert r.steady(quiet + stolen) == quiet
    worst = {"latency": 1.0, "steal": 0.9 * ncpu}
    assert r.steady(stolen + [worst]) == stolen


def test_end_to_end_medians_split_queries_from_batch_ops():
    r = harness.Run(trace=False)
    r.query_kinds, r.batch_kinds = {"q"}, {"b"}
    r.setup_s, r.peak_rss_mb = 5.0, 100.0

    def op(kind, latency, ok=True, traced=False):
        r.ops.append({"kind": kind, "latency": latency, "ok": ok, "traced": traced,
                      "steal": 0.0, "cpu": 1.0})

    for lat in (1.0, 2.0, 3.0):
        op("q", lat)
    op("q", 100.0, ok=False)
    op("q", 100.0, traced=True)
    op("b", 7.0)
    op("other", 50.0)
    got = r.end_to_end()
    assert got == {"setup_s": 5.0, "query_p50_s": 2.0, "batch_p50_s": 7.0, "peak_rss_mb": 100.0}
