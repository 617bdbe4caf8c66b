"""The benchmark workloads: inputs, one job, and its checks.

Each workload is a ``Workload`` with three steps:

- ``build(spark, seed, sizes)`` generates the seeded inputs and
  materialises them as DataFrames (the library receives only these
  frames);
- ``job(inputs, traced)`` is the timed unit, from materialised input to
  a collected result;
- ``check(inputs, result, tracer)`` runs after the timer stops and
  returns the failed checks plus the workload's own result figures.

Library calls go through module attributes (``cascade.cascade_train``
and so on) so that ``tracing.Tracer.instrument`` can see them.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
from parallel_svms_spark.caching import cache_scope
from parallel_svms_spark.ml import (bagging, cascade, evaluate, iterative,
                                    trainer)
from parallel_svms_spark.operators import dedup

K = 8                      # buckets / subsets / models
# The iterative SVM always runs a second round and runs a third only if
# the second lowered its errorsum, which depends on the seed; capping it
# at two rounds gives every seed the same work (round two still copies
# the global SV set to every bucket and appends with a left-anti join).
ITERATIONS = 2
GAMMA = 1.0 / gen.DIM
N_PAIRS = gen.N_CLASSES * (gen.N_CLASSES - 1) // 2

# Input sizes. ``tiny`` is what the tests run: the smallest inputs on
# which every check still holds (cascade buckets need a few hundred
# rows before support vectors drop out between layers).
#
# ``single_process``: held-out accuracy of single-process
# smo.train_svc on the ``train`` and ``test`` splits, the minimum over
# seeds 1-5 printed by ``python3 perfbench/calibrate.py [--size tiny]``.
# The global SVM's accuracy floor is FLOOR_MARGIN under it; the
# cascade's and bagging's floor is FLOOR_MARGIN under the global SVM
# of the same job, the paper's 0.5-3% envelope (PDF slide 24).
SIZES = {
    "default": {"train": 2000, "test": 1000, "iterative_train": 1000,
                "docs": 2000, "single_process": 0.9570},
    "tiny": {"train": 2000, "test": 500, "iterative_train": 400,
             "docs": 300, "single_process": 0.9500},
}
FLOOR_MARGIN = 0.03

# seed streams: every split draws its own stream, and its own id range
STREAM = {"train": 1, "test": 2, "iterative_train": 3}
ID_OFFSET = {"train": 0, "test": 10**9, "iterative_train": 2 * 10**9}


def vectors_frame(spark, X: np.ndarray, y: np.ndarray, id_offset: int = 0):
    pdf = pd.DataFrame({"vec_id": np.arange(len(y), dtype=np.int64)
                        + id_offset,
                        "label": y.astype(np.int32),
                        "embedding": list(X)})
    return spark.createDataFrame(
        pdf, "vec_id long, label int, embedding array<float>")


def materialise(df):
    """Eager local checkpoint: the job starts from computed rows."""
    return df.localCheckpoint(eager=True)


def _split(spark, seed: int, sizes: dict, name: str):
    X, y = gen.mnist_standin(sizes[name], seed, STREAM[name])
    return materialise(vectors_frame(spark, X, y, ID_OFFSET[name]))


@dataclass
class Workload:
    name: str              # why each workload exists: BENCHMARK.json
    build: Callable
    job: Callable
    check: Callable
    # untimed jobs before the timed loop, counted in setup_s: enough
    # that the JVM's JIT has compiled the job's hot code
    warmups: int = 1


# the trainer functions that ship rows to a training UDF
TRAINER_CALLS = ("trainer.fit_buckets", "trainer.fit_buckets_pairwise",
                 "trainer.svs_pairwise", "trainer.fit_global_distributed")


# -- svm_mnist -------------------------------------------------------------
#
# One job trains the paper's three parallel SVMs and the one global SVM
# they are judged against, on one seeded MNIST/HOG stand-in.
#
# The drivers switch to the (bucket × pair) trainer strategies only
# above 3,000 rows per bucket, far beyond inputs a run can afford, so
# the traced job also calls ``svs_pairwise`` and ``fit_buckets_pairwise``
# directly, next to the ``fit_buckets`` call they replace, on one bucket
# of PROBE_CLASSES classes (every class pair is its own Python task; at
# ten classes the two calls take longer than the rest of the job).

PROBE_CLASSES = 3


def _svm_build(spark, seed, sizes):
    train = _split(spark, seed, sizes, "train")
    probe = materialise(train.filter(F.col("label") < PROBE_CLASSES)
                        .withColumn("bucket", F.lit(0)))
    return {"train": train, "test": _split(spark, seed, sizes, "test"),
            "iterative_train": _split(spark, seed, sizes, "iterative_train"),
            "probe": probe, "n_test": sizes["test"],
            "floor": sizes["single_process"] - FLOOR_MARGIN}


def _svm_job(inp, traced):
    train, test = inp["train"], inp["test"]
    res = {}
    t0 = time.perf_counter()
    # the traced job also asks for the per-layer stats (one extra
    # count per layer); the timed job makes the plain call
    stats = {} if traced else None
    res["cascade_model"], _ = cascade.cascade_train(
        train, k=K, gamma=GAMMA, stats_out=stats)
    res["stats"] = stats
    t1 = time.perf_counter()
    res["cascade_accuracy"] = evaluate.accuracy(
        trainer.predict_df(test, res["cascade_model"]))

    t2 = time.perf_counter()
    gsv, res["errs"] = iterative.iterative_train(
        inp["iterative_train"], k=K, gamma=GAMMA, max_iter=ITERATIONS)
    res["gsv_ids"] = [r[0] for r in gsv.select("vec_id").collect()]

    t3 = time.perf_counter()
    res["models"], _ = bagging.bagging_train(train, k=K, gamma=GAMMA)
    t4 = time.perf_counter()
    res["bagging_accuracy"] = evaluate.accuracy(
        bagging.bagging_predict(test, res["models"]))

    t5 = time.perf_counter()
    res["global_model"] = trainer.fit_global_distributed(train, gamma=GAMMA)
    t6 = time.perf_counter()
    res["global_accuracy"] = evaluate.accuracy(
        trainer.predict_df(test, res["global_model"]))
    res["times"] = {"cascade_train_s": t1 - t0, "iterative_train_s": t3 - t2,
                    "bagging_train_s": t4 - t3, "score_s": t5 - t4,
                    "global_train_s": t6 - t5}
    if traced:
        res["probe"] = _pairwise_probe(inp["probe"])
    return res


def _pairwise_probe(probe) -> dict:
    fit = trainer.fit_buckets(probe, gamma=GAMMA, eval_train=True,
                              k=1).localCheckpoint()
    return {"bucket_svs": trainer.svs_only(fit).count(),
            "bucket_err": trainer.err_sum(fit),
            "pairwise_svs": trainer.svs_pairwise(probe, gamma=GAMMA).count(),
            "pairwise_err": trainer.err_sum(
                trainer.fit_buckets_pairwise(probe, gamma=GAMMA))}


def _train_input_rows(tracer, driver: str) -> list[int]:
    """Rows given to each trainer call inside ``driver``, in call
    order: for the cascade that is the rows entering each layer, the
    tip last."""
    return [c.arg.count() for c in tracer.calls_in(driver, TRAINER_CALLS)]


def _svm_check(inp, res, tracer):
    fails = []

    # accuracy: the global SVM against the single-process floor, the
    # cascade and bagging against the global SVM
    glob = res["global_accuracy"]
    if not glob >= inp["floor"]:
        fails.append(f"global accuracy {glob:.4f} < floor {inp['floor']:.4f}")
    for name in ("cascade", "bagging"):
        acc = res[f"{name}_accuracy"]
        if not acc >= glob - FLOOR_MARGIN:
            fails.append(f"{name} accuracy {acc:.4f} more than "
                         f"{FLOOR_MARGIN} under the global SVM {glob:.4f}")

    # cascade: every layer sheds rows; the tip keeps at most its rows
    layers = _train_input_rows(tracer, "cascade.cascade_train")
    if len(layers) != 4 or any(b >= a for a, b in zip(layers, layers[1:])):
        fails.append(f"cascade layer rows not strictly decreasing: {layers}")
    n_sv = res["cascade_model"].n_sv
    if layers and not n_sv <= layers[-1]:
        fails.append(f"final_n_sv {n_sv} > tip rows {layers[-1]}")

    # iterative: exactly ITERATIONS rounds; the global SV set never
    # shrinks. Round i trains base ∪ k copies of gsv_{i-1}, so the
    # copies give its size.
    errs = res["errs"]
    if len(errs) != ITERATIONS:
        fails.append(f"iterative ran {len(errs)} iterations, expected "
                     f"{ITERATIONS}")
    n_base = inp["iterative_train"].count()
    gsv = [(r - n_base) // K for r in _train_input_rows(
        tracer, "iterative.iterative_train")[1:]]
    gsv.append(len(res["gsv_ids"]))
    if any(b < a for a, b in zip(gsv, gsv[1:])):
        fails.append(f"global SV set shrank: {gsv}")
    if len(set(res["gsv_ids"])) != len(res["gsv_ids"]):
        fails.append("global SV set holds duplicate ids")

    # bagging: one model per subset
    if len(res["models"]) != K:
        fails.append(f"bagging returned {len(res['models'])} models, "
                     f"expected {K}")

    # the pairwise strategies solve the same duals as fit_buckets (up
    # to float noise in the per-pair kernel), so they find the same SVs
    # and the same training errors
    p = res.get("probe", {})
    if p and abs(p["pairwise_svs"] - p["bucket_svs"]) > 0.01 * p["bucket_svs"]:
        fails.append(f"svs_pairwise found {p['pairwise_svs']} SVs, "
                     f"fit_buckets {p['bucket_svs']}")
    if p and abs(p["pairwise_err"] - p["bucket_err"]) > 1:
        fails.append(f"fit_buckets_pairwise errorsum {p['pairwise_err']}, "
                     f"fit_buckets {p['bucket_err']}")
    figures = dict(res["times"])
    figures.update(
        score_rows_per_s=inp["n_test"] / figures.pop("score_s"),
        cascade_accuracy=res["cascade_accuracy"],
        bagging_accuracy=res["bagging_accuracy"],
        global_accuracy=glob, err_sum=errs[-1])
    return fails, figures


# -- neardup_corpus --------------------------------------------------------

def _neardup_build(spark, seed, sizes):
    corpus = gen.dup_corpus(sizes["docs"], seed)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": corpus.doc_ids, "text": corpus.texts}),
        "doc_id long, text string")
    return {"docs": materialise(docs), "corpus": corpus}


def _neardup_job(inp, traced):
    docs = inp["docs"]
    with cache_scope():
        n_exact = dedup.exact_dedup_keys(docs).count()
        dedup.minhash_near_dups(docs, threshold=0.5).count()
        kept = {r.doc_id for r in
                dedup.keep_canonical(docs).select("doc_id").collect()}
    return {"n_exact": n_exact, "kept": kept}


def _neardup_check(inp, res, tracer):
    corpus = inp["corpus"]
    fails = []
    if len(res["kept"]) != corpus.n_bases:
        fails.append(f"keep_canonical kept {len(res['kept'])}, "
                     f"expected {corpus.n_bases} bases")
    if res["n_exact"] != corpus.n_docs - corpus.n_exact:
        fails.append(f"exact_dedup_keys {res['n_exact']}, expected "
                     f"{corpus.n_docs - corpus.n_exact}")
    removed = set(int(d) for d in corpus.doc_ids) - res["kept"]
    hit = len(removed & corpus.planted)
    return fails, {"dedup_recall": hit / len(corpus.planted),
                   "dedup_precision": hit / len(removed) if removed else 0.0}


WORKLOADS = {w.name: w for w in [
    Workload("svm_mnist", _svm_build, _svm_job, _svm_check),
    # the string-heavy dedup code kept getting faster until the third
    # job (on 4 cores the first timed job after one warm-up was 10-25%
    # slower than the later ones)
    Workload("neardup_corpus", _neardup_build, _neardup_job, _neardup_check,
             warmups=2),
]}
