"""Per-layer metrics of a traced run.

Every workload reports every name in BENCHMARK.json's ``per_layer``
list; a layer the workload does not run reports 0.
Times of library layers are span totals from the traced job, whose
spans force each call's DataFrame, so they include tracing overhead;
``trace.overhead_s`` states it. Counts that need a Spark job are taken
after the traced job, outside every span.
"""

from __future__ import annotations

import json
import os
import pickle
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import gen
import workloads as W
from parallel_svms_spark.ml import smo

# name → unit of every per-layer metric, from BENCHMARK.json
with open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")) as _fh:
    UNITS = {m["name"]: m["unit"] for m in json.load(_fh)["per_layer"]}

CASCADE = "cascade.cascade_train"
ITERATIVE = "iterative.iterative_train"


def per_layer(w, inp, traced_job: dict, untraced: list[dict], cpus: int,
              setup: dict, mem) -> dict:
    """{metric: (value, unit)} for every name in UNITS."""
    tracer = traced_job["tracer"]
    res = traced_job.get("result", {})
    m = dict.fromkeys(UNITS, 0.0)
    m.update(setup)

    engine = tracer.collect_spark()
    for key, val in engine.items():
        m[f"spark.{key}"] = val
    traced_s = traced_job.get("job_s", 0.0)
    if traced_s:
        m["spark.busy_share"] = engine["executor_run_s"] / (traced_s * cpus)

    _partitioning(m, tracer)
    _trainer(m, tracer)
    _smo_in_process(m, tracer)
    _scoring(m, tracer, res, inp)
    if not traced_job["ok"]:
        pass                  # no checked result to read the counts from
    elif w.name == "svm_mnist":
        _cascade(m, tracer, res)
        _iterative(m, tracer, res)
        m["bagging.train_s"] = tracer.total("bagging.bagging_train")
        m["bagging.total_n_sv"] = sum(x.n_sv for x in res["models"].values())
    elif w.name == "neardup_corpus":
        _dedup(m, tracer)

    m["caching.persisted_left"] = statistics.median(
        j["persisted_left"] for j in untraced) if untraced else 0
    m["mem.jvm_peak_rss_mb"] = mem.jvm_mb
    m["mem.worker_peak_rss_mb"] = mem.workers_mb

    # the workload's own end-to-end figures, medians of the untimed loop
    figs = [j["figures"] for j in untraced if j["figures"]]
    for key in (figs[0] if figs else ()):
        m[f"e2e.{key}"] = statistics.median(f[key] for f in figs)
    if untraced:
        m["e2e.fail_frac"] = (sum(not j["ok"] for j in untraced)
                              / len(untraced))
        m["trace.untraced_job_s"] = statistics.median(
            j["job_s"] for j in untraced)
    m["trace.traced_job_s"] = traced_s
    m["trace.overhead_s"] = traced_s - m["trace.untraced_job_s"]
    unknown = set(m) - set(UNITS)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")
    return {k: (float(v), UNITS[k]) for k, v in m.items()}


def _partitioning(m, tracer) -> None:
    calls = tracer.calls_of("partitioning.balanced_buckets")
    m["partitioning.bucket_s"] = tracer.total("partitioning.balanced_buckets")
    if calls:
        counts = [r[1] for r in calls[0].result.groupBy("bucket").count()
                  .collect()]
        m["partitioning.bucket_skew"] = max(counts) / (sum(counts)
                                                       / len(counts))


def _shape(df) -> tuple[int, int, int]:
    """(rows, buckets, classes) of a trainer call's input."""
    has_bucket = "bucket" in df.columns
    row = df.agg(F.count(F.lit(1)),
                 F.countDistinct("bucket") if has_bucket else F.lit(1),
                 F.countDistinct("label")).first()
    return int(row[0]), int(row[1]), int(row[2])


def _trainer(m, tracer) -> None:
    m["trainer.fit_buckets_s"] = tracer.total("trainer.fit_buckets")
    m["trainer.fit_buckets_pairwise_s"] = tracer.total(
        "trainer.fit_buckets_pairwise")
    m["trainer.svs_pairwise_s"] = tracer.total("trainer.svs_pairwise")
    m["trainer.fit_global_s"] = tracer.total("trainer.fit_global_distributed")
    calls = [c for c in tracer.calls if c.name in W.TRAINER_CALLS]
    if not calls:
        return
    groups = rows_in = 0
    for c in calls:
        rows, buckets, classes = _shape(c.arg)
        pairs = classes * (classes - 1) // 2
        if c.name == "trainer.fit_buckets":
            g, r = buckets, rows
        elif c.name == "trainer.fit_buckets_pairwise":
            g, r = buckets * pairs, rows * pairs
        elif c.name == "trainer.svs_pairwise":
            g, r = buckets * pairs, rows * (classes - 1)
        else:
            g, r = pairs, rows * (classes - 1)
        groups += g
        rows_in += r
        if c.span is not None:
            c.span.counts.update(rows=rows, buckets=buckets, udf_groups=g,
                                 udf_rows_in=r)
    ids = calls[0].arg.select("vec_id")
    for c in calls[1:]:
        ids = ids.union(c.arg.select("vec_id"))
    m["trainer.udf_groups"] = groups
    m["trainer.udf_rows_in"] = rows_in
    m["trainer.replication"] = rows_in / ids.distinct().count()


def _bucket_rows(df):
    """(X, y, bucket count) of the first bucket of a trainer input."""
    if "bucket" in df.columns:
        first = df.agg(F.min("bucket"), F.countDistinct("bucket")).first()
        df, n_buckets = df.filter(F.col("bucket") == first[0]), first[1]
    else:
        n_buckets = 1
    pdf = df.select("vec_id", "label", "embedding").toPandas() \
            .sort_values("vec_id", kind="mergesort")
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return X, pdf["label"].to_numpy(), int(n_buckets)


def _smo_in_process(m, tracer) -> None:
    """Single-process baseline of the solver layer, in this process:
    kernel and dual-solve time on the first bucket of the cascade's
    first layer, and per cascade layer the first bucket's ``train_svc``
    time × the layer's bucket count (buckets of one layer are near
    equal in size)."""
    calls = tracer.calls_in(CASCADE, W.TRAINER_CALLS)
    total = 0.0
    for i, c in enumerate(calls):
        X, y, n_buckets = _bucket_rows(c.arg)
        if i == 0:
            t0 = time.perf_counter()
            K = smo.KERNELS["rbf"](X, X, W.GAMMA)
            m["smo.kernel_s"] = time.perf_counter() - t0
            classes = np.unique(y)
            solve = 0.0
            for a in range(len(classes)):
                for b in range(a + 1, len(classes)):
                    sel = np.flatnonzero((y == classes[a]) | (y == classes[b]))
                    ys = np.where(y[sel] == classes[a], 1.0, -1.0)
                    Ks = K[np.ix_(sel, sel)]
                    t0 = time.perf_counter()
                    smo.smo_solve(Ks, ys)
                    solve += time.perf_counter() - t0
            m["smo.solve_s"] = solve
        t0 = time.perf_counter()
        model = smo.train_svc(X, y, gamma=W.GAMMA)
        total += n_buckets * (time.perf_counter() - t0)
        if i == 0:
            m["smo.bucket_n_sv"] = model.n_sv
    m["smo.layer_solve_s"] = total


def _scoring(m, tracer, res, inp) -> None:
    m["predict.s"] = (tracer.total("trainer.predict_df")
                      + tracer.total("bagging.bagging_predict"))
    m["evaluate.s"] = tracer.total("evaluate.accuracy")
    if "models" not in res:
        return
    # every model scores the held-out rows once
    models = ([res["cascade_model"], res["global_model"]]
              + list(res["models"].values()))
    rows = inp["n_test"]
    m["predict.kernel_flops"] = (rows * sum(x.n_sv for x in models)
                                 * gen.DIM * 2)
    m["predict.pair_votes"] = rows * len(models) * W.N_PAIRS
    # what the scoring calls broadcast: the pickled model dicts
    m["predict.model_bytes"] = len(pickle.dumps([x.to_dict()
                                                 for x in models]))


def _cascade(m, tracer, res) -> None:
    m["cascade.train_s"] = tracer.total(CASCADE)
    layers = res["stats"]["layers"]
    for i, (_, rows) in enumerate(layers[:4]):
        m[f"cascade.rows_l{i}"] = rows
    model = res["cascade_model"]
    m["cascade.final_n_sv"] = model.n_sv
    m["cascade.sv_yield"] = model.n_sv / sum(r for _, r in layers)
    m["cascade.shed_rows"] = sum(res["stats"].get("shed", []))


def _iterative(m, tracer, res) -> None:
    errs = res["errs"]
    m["iterative.train_s"] = tracer.total(ITERATIVE)
    m["iterative.iterations"] = len(errs)
    m["iterative.gsv_rows"] = len(res["gsv_ids"])
    m["iterative.rows_trained"] = sum(
        c.arg.count() for c in tracer.calls_in(ITERATIVE, W.TRAINER_CALLS))
    m["iterative.err_sum_first"] = errs[0]
    m["iterative.err_sum_final"] = errs[-1]


def _dedup(m, tracer) -> None:
    m["dedup.exact_s"] = tracer.total("dedup.exact_dedup_keys")
    m["dedup.minhash_s"] = tracer.total("dedup.minhash_near_dups")
    m["dedup.keep_canonical_s"] = tracer.total("dedup.keep_canonical")
    rows = {}
    for c in tracer.calls:
        if c.name.startswith("dedup.") and c.span is not None:
            c.span.counts["rows_out"] = c.result.count()
            rows[c.name] = rows.get(c.name, 0) + c.span.counts["rows_out"]
    cands = rows.get("dedup.lsh_candidate_pairs", 0)
    verified = rows.get("dedup.minhash_near_dups", 0)
    m["dedup.lsh_candidates"] = cands
    m["dedup.verified_pairs"] = verified
    m["dedup.candidate_yield"] = verified / cands if cands else 0.0
