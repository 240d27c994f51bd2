"""Toy-size self-tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from workloads import GateError, Outcome  # noqa: E402

TOY = {
    "exact_knn": {"n": 2000, "nq": 20},
    "ivf_pq": {"n": 600, "nq": 20, "nlist": 4, "M": 8, "nprobe": 2},
    "text_dedup": {"n": 120},
}


def _setup(name: str, tmp_path, seed: int = 3):
    wl = workloads.WORKLOADS[name](**TOY[name])
    d = tmp_path / f"{name}-{seed}"
    d.mkdir()
    files = wl.setup(str(d), seed)
    return wl, files


@pytest.mark.parametrize("name", sorted(TOY))
def test_inputs_depend_only_on_seed(name, tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    _, a = _setup(name, tmp_path / "a", seed=7)
    _, b = _setup(name, tmp_path / "b", seed=7)
    _, c = _setup(name, tmp_path / "b", seed=8)
    for key in a:
        assert inputs.file_digest(a[key]) == inputs.file_digest(b[key])
        assert inputs.file_digest(a[key]) != inputs.file_digest(c[key])


def test_exact_knn_ground_truth_matches_brute_force():
    X, Q = inputs.gaussian_mixture(inputs.VectorSpec(n=3000, nq=40), 5)
    ids, dists = inputs.exact_knn(X, Q, 10, block=16)
    X64, Q64 = X.astype(np.float64), Q.astype(np.float64)
    D = ((Q64[:, None, :] - X64[None, :, :]) ** 2).sum(-1)
    ref = np.argsort(D, axis=1, kind="stable")[:, :10]
    assert np.array_equal(ids, ref)
    assert np.abs(dists - np.take_along_axis(D, ref, 1)).max() < 1e-9


def _knn_table(ids: np.ndarray, dists: np.ndarray) -> pa.Table:
    nq, k = ids.shape
    return pa.table({
        "qid": np.repeat(np.arange(nq), k),
        "id": ids.reshape(-1),
        "dist": dists.reshape(-1),
        "rank": np.tile(np.arange(1, k + 1), nq).astype(np.int32),
    })


def test_knn_gate(tmp_path):
    wl, _ = _setup("exact_knn", tmp_path)
    good = _knn_table(wl.gt_ids, wl.gt_dist)
    assert wl.check(Outcome(good, {}))["result_recall"] == 1.0
    ids = wl.gt_ids.copy()
    ids[3, 4] = (ids[3, 4] + 1) % wl.spec.n if ids[3, 4] + 1 not in ids[3] else ids[3, 4] - 1
    with pytest.raises(GateError):
        wl.check(Outcome(_knn_table(ids, wl.gt_dist), {}))
    d = wl.gt_dist.copy()
    d[0, 0] += 1e-5
    with pytest.raises(GateError):
        wl.check(Outcome(_knn_table(wl.gt_ids, d), {}))
    with pytest.raises(GateError):
        wl.check(Outcome(good.slice(1), {}))


def test_ivf_gate(tmp_path):
    wl, _ = _setup("ivf_pq", tmp_path)
    good = _knn_table(wl.gt_ids, np.zeros(wl.gt_ids.shape))
    assert wl.check(Outcome(good, {}))["recall_at_10"] == 1.0
    with pytest.raises(GateError):
        wl.check(Outcome(good.slice(0, good.num_rows - 1), {}))
    ids = wl.gt_ids.copy()
    ids[2, 1] = ids[2, 0]
    with pytest.raises(GateError):
        wl.check(Outcome(_knn_table(ids, np.zeros(ids.shape)), {}))


def _dedup_outcome(pairs: list[tuple[int, int, float]]) -> Outcome:
    a, b, j = (np.array(c) for c in zip(*pairs))
    comps = workloads._components(a, b)
    return Outcome((
        pa.table({"id_a": a, "id_b": b, "jaccard": j}),
        pa.table({"id": list(comps), "rep_id": list(comps.values())}),
    ), {})


def test_dedup_gate(tmp_path):
    wl, _ = _setup("text_dedup", tmp_path)
    truth = sorted(wl.truth)
    assert len(truth) >= 2
    good = [(a, b, 0.9) for a, b in truth]
    q = wl.check(_dedup_outcome(good))
    assert q["dedup_pair_recall"] == 1.0 and q["dedup_pair_precision"] == 1.0
    (a, b, _), rest = good[0], good[1:]
    with pytest.raises(GateError):
        wl.check(_dedup_outcome([(b, a, 0.9)] + rest))
    with pytest.raises(GateError):
        wl.check(_dedup_outcome([(a, b, 0.5)] + rest))
    pairs, comps = _dedup_outcome(good).result
    rep = comps.column("rep_id").to_numpy().copy()
    rep[0] += 1
    corrupted = comps.set_column(1, "rep_id", pa.array(rep))
    with pytest.raises(GateError):
        wl.check(Outcome((pairs, corrupted), {}))


def _bench_names(section: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[section]]


@pytest.mark.parametrize("name", sorted(TOY))
@pytest.mark.parametrize("traced", [0, 1])
def test_emitted_metrics_match_benchmark_json(name, traced):
    argv = ["--workload", name, "--seed", "1", "--seconds", "0.1", "--trace", str(traced)]
    result = run.main(argv, sizes=TOY[name])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    section = "per_layer" if traced else "end_to_end"
    assert list(result["metrics"]) == _bench_names(section)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cmd = json.load(f)["command"]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        cmd + ["--workload", "exact_knn", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
