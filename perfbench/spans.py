"""Tracing from outside the program: spans around the package's public
functions and Spark counters per benchmark operation.

Spans are recorded only by wrappers that ``Tracer.install`` puts in place,
so an untraced run executes the package's own functions unchanged.  Every
span carries the id of the operation that caused it; spans stay in memory
and are written out once, at the end of the run.

Spark counters come from the application status store (it is kept with the
UI off).  Each operation runs in its own job group; because the benchmark
is a single closed-loop client, the jobs of an operation are exactly the
jobs submitted since the previous operation ended, which also catches jobs
started from helper threads that do not inherit the group.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# (span name, module, attribute path) of every public function the traced
# run wraps inside its measured operations.  Nested calls split time: a
# span's self time excludes the spans it caused.
TARGETS = (
    ("embedder.embed", "minivectordb_spark.embedder", "HashProjectionEmbedder.embed_batch"),
    ("filters.compile_filters", "minivectordb_spark.filters", "compile_filters"),
    ("scoring.knn", "minivectordb_spark.scoring", "knn"),
    ("scoring.knn_batch", "minivectordb_spark.scoring", "knn_batch"),
    ("autocut.apply_autocut", "minivectordb_spark.autocut", "apply_autocut"),
    ("rerank.hybrid_rerank_results", "minivectordb_spark.rerank", "hybrid_rerank_results"),
    ("table.from_dataframe", "minivectordb_spark.table", "VectorTable.from_dataframe"),
    ("table.load_durable", "minivectordb_spark.table", "VectorTable.load_durable"),
    ("table.find_most_similar", "minivectordb_spark.table", "VectorTable.find_most_similar"),
    ("table.find_most_similar_batch", "minivectordb_spark.table", "VectorTable.find_most_similar_batch"),
    ("durable.store_embeddings_batch", "minivectordb_spark.durable", "DurableVectorTable.store_embeddings_batch"),
    ("durable.upsert_embeddings_batch", "minivectordb_spark.durable", "DurableVectorTable.upsert_embeddings_batch"),
    ("durable.delete_embeddings_batch", "minivectordb_spark.durable", "DurableVectorTable.delete_embeddings_batch"),
    ("operators.dedup.dedup_against_indexed", "minivectordb_spark.operators.dedup", "dedup_against_indexed"),
    ("operators.dedup.update_dedup_index", "minivectordb_spark.operators.dedup", "update_dedup_index"),
    ("fsio.publish_index_manifest", "minivectordb_spark.fsio", "publish_index_manifest"),
)

_STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes", "inputRecords",
    "outputBytes", "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "numCompleteTasks", "numFailedTasks",
)


class Span:
    __slots__ = ("op", "name", "parent", "start", "end", "children_s")

    def __init__(self, op, name, parent, start):
        self.op, self.name, self.parent, self.start = op, name, parent, start
        self.end = start
        self.children_s = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s

    def as_dict(self, index: dict) -> dict:
        return {
            "op": self.op, "name": self.name,
            "parent": index.get(id(self.parent)) if self.parent is not None else None,
            "start": self.start, "end": self.end,
        }


class Tracer:
    """Span recorder.  ``enabled=False`` keeps only the per-operation wall
    times and job groups, which the untraced run needs as well."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self._last_job = -1
        self._op_id = None
        self._rec: dict = {}

    # ---------------- wrapping ----------------

    def install(self) -> None:
        if not self.enabled:
            return
        for name, mod_name, attr in TARGETS:
            mod = importlib.import_module(mod_name)
            owner = mod
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            raw = inspect.getattr_static(owner, leaf)
            if isinstance(raw, classmethod):
                wrapped = classmethod(self._wrap(name, raw.__func__))
                self._set(owner, leaf, wrapped)
            elif path:
                self._set(owner, leaf, self._wrap(name, raw))
            else:
                # a module-level function is also bound by name in every
                # module that imported it: replace each of those bindings
                new = self._wrap(name, raw)
                for m in list(sys.modules.values()):
                    mname = getattr(m, "__name__", "")
                    if not (mname.startswith("minivectordb_spark") or mname == "__spark_entry__"):
                        continue
                    for k, v in list(vars(m).items()):
                        if v is raw:
                            self._set(m, k, new)

    def uninstall(self) -> None:
        for owner, leaf, old in reversed(self._restore):
            setattr(owner, leaf, old)
        self._restore.clear()

    def _set(self, owner, leaf, value) -> None:
        self._restore.append((owner, leaf, inspect.getattr_static(owner, leaf)))
        setattr(owner, leaf, value)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t_in = time.perf_counter()
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            span = Span(tracer._op_id, name, parent, time.time())
            stack.append(span)
            t_call = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t_back = time.perf_counter()
                span.end = span.start + (t_back - t_call)
                stack.pop()
                if parent is not None:
                    parent.children_s += span.end - span.start
                tracer.spans.append(span)
                tracer.overhead_s += (t_call - t_in) + (time.perf_counter() - t_back)

        return wrapper

    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    # ---------------- operations ----------------

    @contextmanager
    def op(self, kind: str, **info):
        """One benchmark operation: a job group, a wall time, and (traced)
        a root span plus the Spark counters of the jobs it ran."""
        sc = self.spark.sparkContext
        op_id = len(self.ops)
        self._op_id = op_id
        sc.setJobGroup(f"perfbench-op-{op_id}", kind)
        rec = {"id": op_id, "kind": kind, **info}
        self._rec = rec
        root = Span(op_id, f"op.{kind}", None, time.time())
        stack = self._stack()
        if self.enabled:
            stack.append(root)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            root.end = root.start + rec["wall_s"]
            if self.enabled:
                stack.pop()
                self.spans.append(root)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._op_id = None
            self.ops.append(rec)
            if self.enabled:
                rec["spark"] = self._collect_jobs(root)

    @contextmanager
    def phase(self, name: str):
        """A timed part of the current operation (``rec["phases"]``)."""
        rec = self._rec
        span = parent = None
        if self.enabled:
            stack = self._stack()
            parent = stack[-1] if stack else None
            span = Span(self._op_id, f"phase.{name}", parent, time.time())
            stack.append(span)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            rec.setdefault("phases", {})[name] = dt
            if span is not None:
                span.end = span.start + dt
                stack.pop()
                if parent is not None:
                    parent.children_s += dt
                self.spans.append(span)

    def _new_jobs(self):
        """The status store's record of every job submitted since the last
        call, oldest first."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        while True:
            try:
                j = store.job(self._last_job + 1)
            except Py4JJavaError:  # NoSuchElementException: no newer job
                return
            self._last_job += 1
            yield store, j

    def _collect_jobs(self, root: Span) -> dict:
        """Counters of every job submitted since the previous operation."""
        gw = self.spark.sparkContext._gateway
        empty_list = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        jobs = []
        for store, j in self._new_jobs():
            sub = j.submissionTime()
            done = j.completionTime()
            stages = j.stageIds()
            job = {
                "id": j.jobId(),
                "submit": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": 0,
            }
            totals = dict.fromkeys(_STAGE_FIELDS, 0)
            for i in range(stages.size()):
                attempts = store.stageData(stages.apply(i), False, empty_list, False, no_quantiles)
                ran = False
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if sd.numTasks() and sd.status().toString() != "SKIPPED":
                        ran = True
                        for f in _STAGE_FIELDS:
                            totals[f] += getattr(sd, f)()
                job["stages"] += int(ran)
            job.update(totals)
            jobs.append(job)
        return {"jobs": jobs, "driver_gap_s": _uncovered(root.start, root.end, jobs)}

    def reset(self) -> None:
        """Forget the operations, spans and jobs so far (set-up and
        warmup), so that only the measured loop is reported."""
        self.ops.clear()
        self.spans.clear()
        self.overhead_s = 0.0
        if self.enabled:
            for _ in self._new_jobs():
                pass

    # ---------------- output ----------------

    def dump(self, path: str, extra: dict) -> None:
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            json.dump({
                **extra,
                "ops": self.ops,
                "spans": [s.as_dict(index) for s in self.spans],
            }, f)


def _uncovered(start: float, end: float, jobs: list[dict]) -> float:
    """Seconds of [start, end] during which no job of the operation ran."""
    spans = sorted(
        (max(start, j["submit"]), min(end, j["end"]))
        for j in jobs if j["submit"] is not None and j["end"] is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end - start) - covered)
