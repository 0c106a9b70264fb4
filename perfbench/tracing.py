"""Spans around the engine's public functions, for the traced run.

The tracer replaces each function listed in TRACED by a wrapper that records
a span (name, layer, start, end, parent, operation id) while an operation is
open. Spark work is attributed from outside: every operation runs under a
Spark job group named after its id, each span remembers the driver's next
job id at its start and end, and when the operation ends the jobs in that
range are read from Spark's status store and given to the innermost span
that launched them. A layer's self time is its spans' durations minus their
child spans; what the root span keeps is `other`.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError

EXECUTOR = "lucene_solr_spark.query.executor"
# (module, class or None, function, layer)
TRACED = [
    (EXECUTOR, "Searcher", "analyze_query", "analysis"),
    ("lucene_solr_spark.query.parser", None, "parse", "query.parser"),
    (EXECUTOR, "Searcher", "__init__", "query.executor.open"),
    (EXECUTOR, "Searcher", "reopen", "query.executor.open"),
    (EXECUTOR, "Searcher", "lookup_terms", "query.executor.dictionary"),
    (EXECUTOR, "Searcher", "search", "query.executor.plan"),
    (EXECUTOR, "Searcher", "boolean_search", "query.executor.plan"),
    (EXECUTOR, "Searcher", "phrase_search", "query.executor.plan"),
    (EXECUTOR, "Searcher", "query", "query.executor.plan"),
    ("lucene_solr_spark.index.build", None, "build_index", "index.build"),
    ("lucene_solr_spark.streaming.nrt", None, "update_documents", "streaming.nrt"),
    ("lucene_solr_spark.streaming.nrt", None, "append_segment", "streaming.nrt"),
    ("lucene_solr_spark.index.deletes", None, "delete_by_key", "index.deletes"),
    ("lucene_solr_spark.index.merge", None, "compact", "index.merge"),
    ("lucene_solr_spark.index.merge", None, "merge_segments", "index.merge"),
]
COLLECT = "query.executor.collect"


def _patch(owner, name: str, make):
    orig = getattr(owner, name)
    setattr(owner, name, functools.wraps(orig)(make(orig)))
    return owner, name, orig


class NullTracer:
    """Untraced run: operations and spans cost a context manager, no more."""

    def op(self, kind: str, family: str | None = None):
        return contextlib.nullcontext()

    def span(self, name: str, layer: str):
        return contextlib.nullcontext()

    def close(self) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.ops: list[dict] = []
        self.stack: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count()
        self._seen_stages: set[int] = set()
        self._saved = [
            _patch(
                getattr(importlib.import_module(mod), cls) if cls else importlib.import_module(mod),
                fn,
                lambda orig, n=f"{cls + '.' if cls else ''}{fn}", lay=layer: self._wrapper(orig, n, lay),
            )
            for mod, cls, fn, layer in TRACED
        ]

    def close(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)

    def _wrapper(self, fn, name: str, layer: str):
        def traced(*args, **kwargs):
            # merges that compact() fans out to pool threads stay inside its span
            if not self.stack or threading.current_thread() is not threading.main_thread():
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def _next_job(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        t = time.perf_counter()
        s = {"id": next(self._ids), "name": name, "layer": layer,
             "parent": self.stack[-1]["id"], "j0": self._next_job(), "jobs": []}
        self.ops[-1]["spans"].append(s)
        self.stack.append(s)
        s["start"] = time.perf_counter()
        self.overhead_s += s["start"] - t
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["j1"] = self._next_job()
            self.stack.pop()
            self.overhead_s += time.perf_counter() - s["end"]

    @contextlib.contextmanager
    def op(self, kind: str, family: str | None = None):
        """One operation: a root span whose jobs run under its job group."""
        t = time.perf_counter()
        op = {"op_id": f"{kind}-{len(self.ops)}", "kind": kind, "family": family, "spans": []}
        self.ops.append(op)
        self.sc.setJobGroup(op["op_id"], kind)
        root = {"id": next(self._ids), "name": f"op.{kind}", "layer": "other", "parent": None,
                "j0": self._next_job(), "jobs": []}
        op["spans"].append(root)
        self.stack = [root]
        root["start"] = time.perf_counter()
        self.overhead_s += root["start"] - t
        try:
            yield op
        finally:
            root["end"] = time.perf_counter()
            root["j1"] = self._next_job()
            self.stack = []
            self._attribute_jobs(op)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - root["end"]

    def _attribute_jobs(self, op: dict) -> None:
        """Give each job of the operation to the innermost span that was
        open when it was submitted, with its stages' task metrics."""
        spans = op["spans"]
        root = spans[0]
        if root["j1"] == root["j0"]:
            return
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        for jid in range(root["j0"], root["j1"]):
            owner = root
            for s in spans[1:]:  # creation order: a later enclosing span is deeper
                if s["j0"] <= jid < s["j1"]:
                    owner = s
            try:
                job = store.job(jid)
            except Py4JJavaError:
                continue  # evicted from the store
            rec = {"job": jid, "callsite": job.name(), "stages": 0, "tasks": 0,
                   "task_ms": 0, "task_cpu_ms": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in self._seen_stages:
                    continue  # a stage reused from an earlier job is skipped here
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                rec["stages"] += 1
                rec["tasks"] += int(st.numTasks())
                rec["task_ms"] += int(st.executorRunTime())
                rec["task_cpu_ms"] += int(st.executorCpuTime()) / 1e6
                rec["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                rec["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
            owner["jobs"].append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for op in self.ops:
                fh.write(json.dumps(op) + "\n")


# --- per-layer summary -------------------------------------------------------
def _dur_ms(s: dict) -> float:
    return (s["end"] - s["start"]) * 1e3


def _self_ms(op: dict) -> dict[int, float]:
    out = {s["id"]: _dur_ms(s) for s in op["spans"]}
    for s in op["spans"]:
        if s["parent"] is not None:
            out[s["parent"]] -= _dur_ms(s)
    return out


def _jobs(spans, key: str | None = None) -> float:
    return sum(len(s["jobs"]) if key is None else sum(j[key] for j in s["jobs"]) for s in spans)


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def unit_of(metric: str) -> str:
    if metric.endswith("_ms") or "_ms_" in metric:
        return "ms"
    if "bytes" in metric:
        return "bytes"
    if "ratio" in metric or metric.endswith("amplification"):
        return "ratio"
    return "count"


def summarize(tracer: Tracer, cores: int, fs: dict, families) -> dict[str, float]:
    """The per-layer metrics. `fs` carries what the workload measured on the
    index directory (segments, bytes written) and the delete counts."""
    ops = tracer.ops
    selfs = {op["op_id"]: _self_ms(op) for op in ops}

    def layer_self(op, layer):
        return sum(selfs[op["op_id"]][s["id"]] for s in op["spans"] if s["layer"] == layer)

    def named(name):
        return [s for op in ops for s in op["spans"] if s["name"] == name]

    m: dict[str, float] = {}
    builds = named("build_index")
    b_ms = sum(_dur_ms(s) for s in builds)
    nb = len(builds)
    m["index.build.wall_ms"] = _per(b_ms, nb)
    for key, name in (("spark_jobs", None), ("spark_stages", "stages"), ("spark_tasks", "tasks"),
                      ("task_ms", "task_ms"), ("task_cpu_ms", "task_cpu_ms"),
                      ("shuffle_write_bytes", "shuffle_write_bytes"), ("spill_bytes", "spill_bytes")):
        m[f"index.build.{key}"] = _per(_jobs(builds, name), nb)
    m["index.build.core_busy_ratio"] = _per(_jobs(builds, "task_ms"), b_ms * cores)

    updates = [op for op in ops if op["kind"] == "update"]
    nu = len(updates)
    nrt = [s for op in updates for s in op["spans"] if s["layer"] == "streaming.nrt"]
    appends = named("append_segment")
    m["streaming.nrt.append_segment_ms"] = _per(sum(_dur_ms(s) for s in appends), nu)
    m["streaming.nrt.spark_jobs"] = _per(_jobs(nrt), nu)
    m["streaming.nrt.task_ms"] = _per(_jobs(nrt, "task_ms"), nu)
    nrt_ms = sum(layer_self(op, "streaming.nrt") for op in updates)
    m["streaming.nrt.core_busy_ratio"] = _per(_jobs(nrt, "task_ms"), nrt_ms * cores)
    deletes = named("delete_by_key")
    m["index.deletes.delete_by_key_ms"] = _per(sum(_dur_ms(s) for s in deletes), nu)
    m["index.deletes.spark_jobs"] = _per(_jobs(deletes), nu)
    m["index.deletes.tombstones"] = float(fs["tombstones"])

    compacts = named("compact")
    nc = len(compacts)
    m["index.merge.compact_ms"] = _per(sum(_dur_ms(s) for s in compacts), nc)
    m["index.merge.segments_before"] = _mean(fs["segments_before"])
    m["index.merge.segments_after"] = _mean(fs["segments_after"])
    m["index.merge.bytes_rewritten"] = _per(fs["bytes_rewritten"], nc)
    appended = fs["bytes_appended"]
    m["index.merge.write_amplification"] = _per(appended + fs["bytes_rewritten"], appended)

    reopens = named("Searcher.reopen")
    m["query.executor.reopen_ms"] = _mean(_dur_ms(s) for s in reopens)
    m["query.executor.reopen_spark_jobs"] = _per(_jobs(reopens), len(reopens))

    queries = [op for op in ops if op["kind"] == "query"]
    nq = len(queries)
    for layer, name in (("analysis", "analysis.analyze_query_ms"),
                        ("query.parser", "query.parser.parse_ms"),
                        ("query.executor.dictionary", "query.executor.lookup_terms_ms"),
                        ("query.executor.plan", "query.executor.plan_ms"),
                        (COLLECT, "query.executor.collect_ms"),
                        ("other", "query.other_ms")):
        m[name] = _per(sum(layer_self(op, layer) for op in queries), nq)
    lookups = [s for op in queries for s in op["spans"] if s["name"] == "Searcher.lookup_terms"]
    m["query.executor.lookups_per_query"] = _per(len(lookups), nq)
    m["query.executor.lookup_spark_jobs"] = _per(_jobs(lookups), nq)
    m["query.executor.dict_cache_hit_ratio"] = _per(
        sum(1 for s in lookups if not s["jobs"]), len(lookups))
    q_spans = [s for op in queries for s in op["spans"]]
    m["query.executor.spark_jobs_per_query"] = _per(_jobs(q_spans), nq)
    m["query.executor.spark_stages_per_query"] = _per(_jobs(q_spans, "stages"), nq)
    m["query.executor.task_ms_per_query"] = _per(_jobs(q_spans, "task_ms"), nq)
    m["query.executor.shuffle_bytes_per_query"] = _per(_jobs(q_spans, "shuffle_write_bytes"), nq)
    m["query.executor.zero_job_query_ratio"] = _per(
        sum(1 for op in queries if not _jobs(op["spans"])), nq)
    for fam in families:
        walls = [_dur_ms(op["spans"][0]) for op in queries if op["family"] == fam]
        m[f"query.executor.family.{fam}.p50_ms"] = statistics.median(walls) if walls else 0.0
    traced_ms = sum(_dur_ms(op["spans"][0]) for op in ops)
    m["trace.overhead_ratio"] = _per(tracer.overhead_s * 1e3, traced_ms)
    return m


def build_job_callsites(tracer: Tracer) -> list[list[str]]:
    """Per build_index call, its Spark jobs in order with their callsites."""
    return [
        [j["callsite"] for j in sorted(s["jobs"], key=lambda j: j["job"])]
        for op in tracer.ops
        for s in op["spans"]
        if s["name"] == "build_index"
    ]
