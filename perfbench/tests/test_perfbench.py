"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

Each tiny-size run starts Spark once (about three minutes for the whole
file on a 4-core host).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(workload: str, trace: int, cwd: str = ROOT, size: str = "tiny"):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "3",
                             "--seconds", "0.1", "--trace", str(trace)]
    if size:
        cmd += ["--size", size]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300)


# -- generators ---------------------------------------------------------------

def test_mnist_standin_is_deterministic():
    X1, y1 = gen.mnist_standin(500, seed=7, stream=1)
    X2, y2 = gen.mnist_standin(500, seed=7, stream=1)
    assert X1.tobytes() == X2.tobytes() and (y1 == y2).all()
    assert X1.shape == (500, gen.DIM) and set(y1) <= set(range(10))


def test_mnist_standin_streams_and_seeds_differ():
    X1, _ = gen.mnist_standin(100, seed=7, stream=1)
    X2, _ = gen.mnist_standin(100, seed=7, stream=2)
    X3, _ = gen.mnist_standin(100, seed=8, stream=1)
    assert not np.array_equal(X1, X2) and not np.array_equal(X1, X3)
    # splits of one seed share the class centres
    assert np.array_equal(gen.class_centres(7), gen.class_centres(7))
    with pytest.raises(ValueError):
        gen.mnist_standin(10, seed=7, stream=0)


def test_dup_corpus_is_deterministic():
    a, b = gen.dup_corpus(300, seed=5), gen.dup_corpus(300, seed=5)
    assert a.texts == b.texts and (a.doc_ids == b.doc_ids).all()
    assert a.planted == b.planted
    assert gen.dup_corpus(300, seed=6).texts != a.texts


def test_dup_corpus_ground_truth():
    c = gen.dup_corpus(400, seed=2)
    assert c.n_docs == 400 and c.n_exact == 20 and c.n_near == 60
    assert len(c.planted) == c.n_exact + c.n_near
    assert sorted(c.doc_ids) == list(range(400))
    # exact copies are the only repeated texts
    assert len(set(c.texts)) == c.n_docs - c.n_exact
    # within each cluster the base holds the smallest id
    text_of = dict(zip(c.doc_ids.tolist(), c.texts))
    bases = set(text_of) - c.planted
    assert len(bases) == c.n_bases
    for d in c.planted:
        toks = text_of[d].split()
        best = max(bases, key=lambda b: sum(
            x == y for x, y in zip(text_of[b].split(), toks)))
        assert best < d


# -- metric names -------------------------------------------------------------

def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    import workloads
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"}
    names = [m["name"] for m in SPEC["end_to_end"]]
    assert "setup_s" in names
    for m in SPEC["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


# -- tiny end-to-end runs -----------------------------------------------------

def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# per-layer metrics that are non-zero only if the workload ran the layer
LAYERS_RUN = {
    "svm_mnist": ["partitioning.bucket_s", "smo.layer_solve_s",
                  "trainer.fit_buckets_s", "trainer.fit_buckets_pairwise_s",
                  "trainer.svs_pairwise_s", "trainer.fit_global_s",
                  "cascade.train_s", "cascade.rows_l3", "iterative.train_s",
                  "iterative.gsv_rows", "bagging.train_s",
                  "bagging.total_n_sv", "predict.s", "predict.kernel_flops",
                  "evaluate.s", "e2e.score_rows_per_s", "spark.tasks"],
    "neardup_corpus": ["dedup.exact_s", "dedup.minhash_s",
                       "dedup.keep_canonical_s", "dedup.lsh_candidates",
                       "dedup.verified_pairs", "e2e.dedup_recall",
                       "spark.shuffle_write_bytes"],
}


@pytest.mark.parametrize("workload", sorted(LAYERS_RUN))
def test_tiny_traced_run_passes_checks(workload):
    out = _result(_run(workload, trace=1))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 3
    assert set(out["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    for name in LAYERS_RUN[workload]:
        assert out["metrics"][name]["value"] > 0, name


def test_tiny_untraced_run_emits_end_to_end_metrics():
    out = _result(_run("neardup_corpus", trace=0))
    assert out["correct"] and out["attempted"] >= 2
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(SPEC["workloads"][0]["name"], trace=0, cwd=str(tmp_path),
                size="")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
