"""One benchmark run: set up, warm up, closed loop, checks, metrics."""

from __future__ import annotations

import statistics
import sys
import time
import traceback

import layers
import workloads as W
from tracing import PeakRss, Tracer

WORKLOAD_NAMES = list(W.WORKLOADS)
MIN_JOBS = 1


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def one_job(spark, w, inp, run_id: str, traced: bool = False) -> dict:
    """Run and check one job. Failures are returned, never raised."""
    tracer = Tracer(spark, run_id, timed=traced)
    held = _persistent_rdds(spark)
    rec = {"ok": False, "tracer": tracer, "figures": {}}
    try:
        with tracer.instrument():
            t0 = time.perf_counter()
            with tracer.span("job"):
                res = w.job(inp, traced)
            rec["job_s"] = time.perf_counter() - t0
        rec["persisted_left"] = _persistent_rdds(spark) - held
        fails, rec["figures"] = w.check(inp, res, tracer)
        if traced:                    # the per-layer metrics read both
            rec["result"] = res
        for f in fails:
            print(f"[{w.name}] check failed: {f}", file=sys.stderr)
        rec["ok"] = not fails
    except Exception:                 # a failed job is counted, not fatal
        traceback.print_exc(file=sys.stderr)
    if not traced:
        del rec["tracer"]             # frees the frames the calls held
    return rec


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited
    (its Python workers are stopped with the session)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(name: str, seed: int, seconds: float, traced: bool, size: str,
        cpus: int, t_start: float, out_dir: str):
    from pyspark import SparkContext

    from parallel_svms_spark.ml import _smo_native
    from parallel_svms_spark.session import get_spark

    w = W.WORKLOADS[name]
    run_id = f"{name}-s{seed}"
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        mem = PeakRss(SparkContext._gateway.proc.pid)
        t0 = time.perf_counter()
        native_loaded = _smo_native.load() is not None
        native_load_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        inp = w.build(spark, seed, W.SIZES[size])
        build_s = time.perf_counter() - t0
        warm = [one_job(spark, w, inp, run_id) for _ in range(w.warmups)]
        setup_s = time.perf_counter() - t_start
        mem.sample()

        # closed loop: one job at a time until the time is up, and at
        # least MIN_JOBS (one job can outlast the whole time)
        timed = []
        deadline = time.perf_counter() + seconds
        while len(timed) < MIN_JOBS or time.perf_counter() < deadline:
            timed.append(one_job(spark, w, inp, run_id))
            mem.sample()
        done = [j for j in timed if "job_s" in j]
        job_s = statistics.median(j["job_s"] for j in done) if done else 0.0
        # every job is checked, the warm-ups too; only timed jobs are timed
        checked = warm + timed
        summary = _summary(name, timed, checked, setup_s, job_s, mem)
        summary.append(f"[{name}] setup phases: session {session_s:.3f} s, "
                       f"native SMO load {native_load_s:.3f} s, inputs "
                       f"{build_s:.3f} s, warm-up jobs "
                       + " ".join(f"{j.get('job_s', 0):.3f}" for j in warm)
                       + " s")
        summary.append(f"[{name}] peak RSS: driver "
                       f"{mem.driver_kb / 1024:.1f} MB, JVM {mem.jvm_mb:.1f} "
                       f"MB, {len(mem.worker_kb)} Python workers "
                       f"{mem.workers_mb:.1f} MB")

        if not traced:
            metrics = {"setup_s": (setup_s, "s"),
                       "job_s": (job_s, "s"),
                       "peak_rss_mb": (mem.total_mb, "MB")}
        else:
            tj = one_job(spark, w, inp, run_id, traced=True)
            mem.sample()
            checked.append(tj)
            metrics = layers.per_layer(
                w, inp, tj, done, cpus,
                setup={"session.start_s": session_s,
                       "smo.native_loaded": float(native_loaded),
                       "smo.native_load_s": native_load_s},
                mem=mem)
            path = f"{out_dir}/trace/{run_id}.json"
            tj["tracer"].write(path)
            summary.append(f"[{name}] spans written to {path}")
            summary.append(f"[{name}] tracing overhead "
                           f"{metrics['trace.overhead_s'][0]:+.3f} s "
                           f"(traced job_s − untraced median job_s)")
    finally:
        _stop(spark)
    failed = sum(not j["ok"] for j in checked)
    result = {"correct": failed == 0, "attempted": len(checked),
              "failed": failed,
              "metrics": {k: {"value": float(v), "unit": u}
                          for k, (v, u) in metrics.items()}}
    return result, summary


def _summary(name, timed, checked, setup_s, job_s, mem) -> list[str]:
    """Human-readable lines: every end-to-end figure the workload has,
    including the ones BENCHMARK.json cannot gate on all workloads."""
    failed = sum(not j["ok"] for j in checked)
    lines = [f"[{name}] jobs={len(checked)} "
             f"({len(checked) - len(timed)} warm-up) "
             f"fail_frac={failed / len(checked):.3f} "
             f"setup_s={setup_s:.3f} s job_s={job_s:.3f} s "
             f"peak_rss_mb={mem.total_mb:.1f} MB",
             f"[{name}] job_s samples: "
             + " ".join(f"{j['job_s']:.3f}" for j in timed if "job_s" in j)]
    figs = [j["figures"] for j in timed if j["figures"]]
    for key in (figs[0] if figs else ()):
        vals = [f[key] for f in figs if key in f]
        lines.append(f"[{name}] {key}={statistics.median(vals):.6g} "
                     f"{layers.UNITS[f'e2e.{key}']} (median of {len(vals)})")
    return lines
