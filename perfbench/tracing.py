"""Spans, counters and engine metrics recorded from outside the library.

The library is never edited. ``Tracer.instrument()`` swaps the public
functions of the layer modules for wrappers while a job runs, and puts
the originals back afterwards. A function imported by name into
another module (``balanced_buckets`` in the three SVM drivers) is
swapped wherever it is bound, so calls the drivers make internally are
seen too.

Two modes share the wrappers:

- untraced (``timed=False``): a wrapper only keeps a reference to the
  call's first argument and the names of the layer calls it ran inside,
  so the checks can count what each layer was given (and by which
  driver) after the timed job ends. Nothing runs, nothing is timed.
- traced (``timed=True``): each call opens a span, runs in its own
  Spark job group, and forces its DataFrame result with an eager
  ``localCheckpoint`` so the span covers the work the call stands for,
  not just plan building. Counts that need a Spark job are taken
  outside the span. Spans stay in memory until ``write``.

Engine numbers come from Spark's status store, which is kept even with
the UI disabled: jobs of a span's group → their stages → the last
attempt of each stage.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

# (module, public function) pairs that get a span
LAYER_FUNCTIONS = [
    ("parallel_svms_spark.operators.partitioning", "balanced_buckets"),
    ("parallel_svms_spark.ml.trainer", "fit_buckets"),
    ("parallel_svms_spark.ml.trainer", "fit_buckets_pairwise"),
    ("parallel_svms_spark.ml.trainer", "svs_pairwise"),
    ("parallel_svms_spark.ml.trainer", "fit_global_distributed"),
    ("parallel_svms_spark.ml.trainer", "predict_df"),
    ("parallel_svms_spark.ml.cascade", "cascade_train"),
    ("parallel_svms_spark.ml.iterative", "iterative_train"),
    ("parallel_svms_spark.ml.bagging", "bagging_train"),
    ("parallel_svms_spark.ml.bagging", "bagging_predict"),
    ("parallel_svms_spark.ml.evaluate", "accuracy"),
    ("parallel_svms_spark.operators.dedup", "exact_dedup_keys"),
    ("parallel_svms_spark.operators.dedup", "minhash_near_dups"),
    ("parallel_svms_spark.operators.dedup", "lsh_candidate_pairs"),
    ("parallel_svms_spark.operators.dedup", "keep_canonical"),
    ("parallel_svms_spark.operators.dedup", "ngram_jaccard_pairs"),
]


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Call:
    """One call into a layer function, kept in both modes."""
    name: str
    arg: object              # first positional argument (usually a frame)
    result: object
    span: Span | None
    within: tuple[str, ...]  # names of the layer calls it ran inside


class Tracer:
    def __init__(self, spark, run_id: str, timed: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.timed = timed
        self.spans: list[Span] = []
        self.calls: list[Call] = []
        self._stack: list[Span] = []
        self._open: list[str] = []       # layer calls now running

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """A span around the block; a no-op when not timed."""
        if not self.timed:
            yield None
            return
        s = Span(len(self.spans), name,
                 self._stack[-1].span_id if self._stack else None,
                 self.run_id, time.perf_counter())
        self.spans.append(s)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(self._group(s), name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def _group(self, s: Span) -> str:
        return f"{self.run_id}-{s.span_id}"

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sum(c.duration for c in self.spans if c.parent == s.span_id)
        return s.duration - kids

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    # -- wrappers ----------------------------------------------------
    def _wrap(self, qualname: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            arg = args[0] if args else None
            within = tuple(tracer._open)
            tracer._open.append(qualname)
            try:
                with tracer.span(qualname) as s:
                    out = fn(*args, **kwargs)
                    if tracer.timed and isinstance(out, DataFrame):
                        out = out.localCheckpoint(eager=True)
            finally:
                tracer._open.pop()
            tracer.calls.append(Call(qualname, arg, out, s, within))
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    @contextmanager
    def instrument(self):
        """Swap every LAYER_FUNCTIONS entry for its wrapper, wherever
        the library binds it, for the duration of the block."""
        swapped = []
        try:
            for modname, attr in LAYER_FUNCTIONS:
                __import__(modname)
                orig = getattr(sys.modules[modname], attr)
                wrapper = self._wrap(f"{modname.rsplit('.', 1)[1]}.{attr}",
                                     orig)
                for name, mod in list(sys.modules.items()):
                    if (name.startswith("parallel_svms_spark")
                            and getattr(mod, attr, None) is orig):
                        setattr(mod, attr, wrapper)
                        swapped.append((mod, attr, orig))
            yield self
        finally:
            for mod, attr, orig in reversed(swapped):
                setattr(mod, attr, orig)

    def calls_of(self, name: str) -> list[Call]:
        return [c for c in self.calls if c.name == name]

    def calls_in(self, driver: str, names) -> list[Call]:
        """Calls to any of ``names`` made inside a call to ``driver``,
        in the order they were made."""
        return [c for c in self.calls
                if c.name in names and driver in c.within]

    # -- engine metrics ---------------------------------------------
    def collect_spark(self) -> dict:
        """Fill ``span.spark`` for every span from the status store and
        return the totals over all spans. A stage whose output a later
        job reuses is listed by both jobs; it counts once, in the span
        whose job ran it first."""
        if not self.timed:
            return {}
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        totals = _zero_engine()
        jobs = {s.span_id: sorted(tracker.getJobIdsForGroup(self._group(s)))
                for s in self.spans}
        seen: set[int] = set()
        jobs_stages: dict[int, list[int]] = {}
        for job_id in sorted(j for ids in jobs.values() for j in ids):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            fresh = [st for st in info.stageIds if st not in seen]
            seen.update(fresh)
            jobs_stages[job_id] = fresh
        for s in self.spans:
            agg = _zero_engine()
            for job_id in jobs[s.span_id]:
                agg["jobs"] += 1
                for stage_id in jobs_stages.get(job_id, ()):
                    _add_stage(agg, store, stage_id)
            s.spark = agg
            for key, val in agg.items():
                totals[key] += val
        return totals

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = [{"span_id": s.span_id, "name": s.name, "parent": s.parent,
                "run_id": s.run_id, "start": s.start, "end": s.end,
                "duration_s": s.duration, "self_s": self.self_time(s),
                "counts": s.counts, "spark": s.spark} for s in self.spans]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


def _zero_engine() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "jvm_cpu_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "gc_s": 0.0}


def _add_stage(agg: dict, store, stage_id: int) -> None:
    from py4j.protocol import Py4JJavaError
    try:
        st = store.lastStageAttempt(stage_id)
    except Py4JJavaError:
        return            # skipped stage: its output was reused, no attempt
    agg["stages"] += 1
    agg["tasks"] += st.numTasks()
    agg["failed_tasks"] += st.numFailedTasks()
    agg["executor_run_s"] += st.executorRunTime() / 1e3
    agg["jvm_cpu_s"] += st.executorCpuTime() / 1e9
    agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
    agg["shuffle_read_bytes"] += st.shuffleReadBytes()
    agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    agg["gc_s"] += st.jvmGcTime() / 1e3


# -- memory ---------------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (each thread lists its own)."""
    kids = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(p) for p in fh.read().split())
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            pass
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


class PeakRss:
    """Peak RSS (VmHWM) per process, sampled whenever ``sample`` runs.

    A process's VmHWM is its own lifetime peak, so sampling after each
    job only misses Python workers that started and ended between two
    samples."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.driver_kb = 0
        self.jvm_kb = 0
        self.worker_kb: dict[int, int] = {}

    def sample(self) -> None:
        self.driver_kb = max(self.driver_kb, _status_kb(os.getpid(), "VmHWM"))
        self.jvm_kb = max(self.jvm_kb, _status_kb(self.jvm_pid, "VmHWM"))
        for pid in descendants(self.jvm_pid):
            kb = _status_kb(pid, "VmHWM")
            self.worker_kb[pid] = max(self.worker_kb.get(pid, 0), kb)

    @property
    def total_mb(self) -> float:
        return (self.driver_kb + self.jvm_kb
                + sum(self.worker_kb.values())) / 1024.0

    @property
    def jvm_mb(self) -> float:
        return self.jvm_kb / 1024.0

    @property
    def workers_mb(self) -> float:
        return sum(self.worker_kb.values()) / 1024.0
