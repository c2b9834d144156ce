"""Tracing for the benchmark's traced run.

Spans are recorded around calls INTO the program -- the public
functions of ``io``, ``sources``, ``plans``, ``operators`` and
``streaming`` -- by wrappers installed from this file; the program's
own files are not edited. ``session`` is timed by the worker itself,
around its import and ``get_spark`` call. Each span has a name, start, end,
parent and run id; spans stay in memory until ``Tracer.dump``.

Spark itself is read from outside the engine: its status store (jobs,
stages, tasks, SQL metrics) after a pass, and a StreamingQueryListener
during one.

Most program functions build lazy plans, so a span around one times
plan construction plus whatever the function runs eagerly (fences,
counts, collects); the jobs of the final write are timed per query as
``exec``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import re
import sys
import threading
import time
from collections import defaultdict

# span-name prefix -> program modules whose public functions it wraps
LAYER_MODULES = {
    "sources": ("deepicedrain_spark.sources.hdf5lite", "deepicedrain_spark.sources.zarr"),
    "plans.ingest": ("deepicedrain_spark.plans.ingest",),
    "plans.dhdt": ("deepicedrain_spark.plans.dhdt",),
    "plans.xover": ("deepicedrain_spark.plans.xover",),
    "plans.lakes": ("deepicedrain_spark.plans.lakes",),
    "operators.regression": ("deepicedrain_spark.operators.regression",),
    "operators.clustering": ("deepicedrain_spark.operators.clustering",),
    "operators.dissolve": ("deepicedrain_spark.operators.dissolve",),
    "operators.dedup": ("deepicedrain_spark.operators.dedup",),
    "operators.similarity": ("deepicedrain_spark.operators.similarity",),
    "operators.graph": ("deepicedrain_spark.operators.graph",),
    "operators.retrieval": ("deepicedrain_spark.operators.retrieval",),
    "streaming": (
        "deepicedrain_spark.streaming.windows",
        "deepicedrain_spark.streaming.sink",
        "deepicedrain_spark.streaming.neardup",
    ),
}
IO_FUNCTIONS = ("load_table", "spread_scan")
FENCE_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")
PROBE_GROUP = "perfbench-probe"

_SIZE = re.compile(r"([\d.]+)\s+(B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


class Tracer:
    """In-memory span recorder plus the wrappers that feed it."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def start(self, name: str) -> dict:
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        with self._lock:
            self.spans.append(rec)
        stack.append(rec["id"])
        return rec

    def end(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        rec = self.start(name)
        try:
            yield rec
        finally:
            self.end(rec)

    # -- wrappers --------------------------------------------------------
    def _wrap(self, name: str, fn, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            rec = tracer.start(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(rec)
            if after is not None:
                after(rec, args, kwargs, out)
            return out

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _patch_everywhere(self, original, wrapper) -> None:
        """Rebind ``original`` to ``wrapper`` in every loaded program
        module, so ``from x import f`` aliases are traced too."""
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith("deepicedrain_spark") or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._patch(mod, attr, wrapper)

    def install(self, dataframe_cls) -> None:
        for layer, modules in LAYER_MODULES.items():
            for modname in modules:
                mod = importlib.import_module(modname)
                for attr, fn in list(vars(mod).items()):
                    if attr.startswith("_") or not inspect.isfunction(fn):
                        continue
                    if fn.__module__ != modname:
                        continue
                    self._patch_everywhere(fn, self._wrap(f"{layer}.{attr}", fn))
        io = importlib.import_module("deepicedrain_spark.io")
        for attr in IO_FUNCTIONS:
            fn = getattr(io, attr)
            after = self._after_spread if attr == "spread_scan" else None
            self._patch_everywhere(fn, self._wrap(f"io.{attr}", fn, after))
        for meth in FENCE_METHODS:
            fn = getattr(dataframe_cls, meth)
            self._patch(dataframe_cls, meth, self._wrap(f"fence.{meth}", fn, self._after_fence))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)

    def _after_spread(self, rec, args, kwargs, out) -> None:
        if out is not args[0]:
            self.counts["io.spread_scan.repartitioned"] += 1

    def _after_fence(self, rec, args, kwargs, out) -> None:
        """Rows held by an eager checkpoint fence, counted from the
        materialized result in a job group the Spark census excludes.
        Lazy fences (persist/cache) are counted but not probed: a count
        would materialize them early."""
        eager = args[1] if len(args) > 1 else kwargs.get("eager", True)
        if rec["name"] not in ("fence.localCheckpoint", "fence.checkpoint") or not eager:
            return
        sc = out.sparkSession.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(PROBE_GROUP, "fence row probe")
        try:
            with self.span("trace.fence_probe"):
                self.counts["fence.rows"] += out.count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            sc.setLocalProperty("spark.job.description", prev_desc)

    # -- reduction -------------------------------------------------------
    def reset(self) -> None:
        self.spans.clear()
        self.counts.clear()

    def closed_spans(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def layer_totals(self) -> dict[str, tuple[int, float]]:
        """(calls, seconds) per span-name prefix, counting only the
        outermost span of that prefix on each path, so a layer calling
        itself is not counted twice."""
        spans = {s["id"]: s for s in self.closed_spans()}
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])

        def prefixes(name: str) -> list[str]:
            parts = name.split(".")
            return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]

        # the tracer's own probe time, charged to no layer
        probe = defaultdict(float)
        for s in spans.values():
            if s["name"].startswith("trace."):
                p = s["parent"]
                while p is not None and p in spans:
                    probe[p] += s["end"] - s["start"]
                    p = spans[p]["parent"]
        for s in spans.values():
            ancestors = set()
            p = s["parent"]
            while p is not None and p in spans:
                ancestors.update(prefixes(spans[p]["name"]))
                p = spans[p]["parent"]
            for pre in prefixes(s["name"]):
                if pre not in ancestors:
                    out[pre][0] += 1
                    out[pre][1] += s["end"] - s["start"] - probe[s["id"]]
        return {k: (v[0], v[1]) for k, v in out.items()}

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        spans = self.closed_spans()
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in spans:
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, s["start"]), min(b, s["end"])
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, t0: float) -> None:
        """Write the spans as JSON lines, times relative to ``t0``."""
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.closed_spans():
                rec = dict(s, start=s["start"] - t0, end=s["end"] - t0, self=selfs[s["id"]])
                f.write(json.dumps(rec) + "\n")


# -- Spark, read from outside the engine --------------------------------
def _iter(jvm, seq):
    """Iterate a Scala Seq through a Java view."""
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq).iterator()


def _each(it):
    while it.hasNext():
        yield it.next()


def flush_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def last_ids(spark) -> tuple[int, int]:
    """Highest job id and SQL execution id seen so far (-1 if none)."""
    jvm = spark.sparkContext._jvm
    flush_listeners(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = [j.jobId() for j in _each(_iter(jvm, store.jobsList(None)))]
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = [e.executionId() for e in _each(_iter(jvm, sql.executionsList()))]
    return max(jobs, default=-1), max(execs, default=-1)


def spark_census(spark, after_job: int, after_exec: int) -> dict[str, float]:
    """Scheduler, executor, exchange and Python-transfer totals over
    the jobs and SQL executions newer than the given ids, excluding
    the tracer's own probe jobs."""
    jvm = spark.sparkContext._jvm
    flush_listeners(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    n_jobs = 0
    for j in _each(_iter(jvm, store.jobsList(None))):
        if j.jobId() <= after_job:
            continue
        group = j.jobGroup()
        if group.isDefined() and group.get() == PROBE_GROUP:
            continue
        n_jobs += 1
        stage_ids.update(int(s) for s in _each(_iter(jvm, j.stageIds())))
    c = defaultdict(float)
    c["spark.jobs"] = n_jobs
    for sid in sorted(stage_ids):
        st = store.lastStageAttempt(sid)
        if str(st.status()) == "SKIPPED":
            continue
        c["spark.stages"] += 1
        c["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        c["spark.failed_tasks"] += st.numFailedTasks()
        c["spark.task_run_s"] += st.executorRunTime() / 1e3
        c["spark.task_cpu_s"] += st.executorCpuTime() / 1e9
        c["spark.gc_s"] += st.jvmGcTime() / 1e3
        c["spark.shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
        c["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        for t in _each(_iter(jvm, store.taskList(st.stageId(), st.attemptId(), 2**31 - 1))):
            m = t.taskMetrics()
            if m.isDefined():
                m = m.get()
                if m.inputMetrics().recordsRead() + m.shuffleReadMetrics().recordsRead() == 0:
                    c["empty_tasks"] += 1
    c["spark.empty_task_share"] = c.pop("empty_tasks", 0.0) / max(c["spark.tasks"], 1)
    sql = spark._jsparkSession.sharedState().statusStore()
    to_python = 0.0
    for e in _each(_iter(jvm, sql.executionsList())):
        eid = e.executionId()
        if eid <= after_exec:
            continue
        values = sql.executionMetrics(eid)
        for node in _each(_iter(jvm, sql.planGraph(eid).allNodes())):
            for m in _each(_iter(jvm, node.metrics())):
                if m.name() != "data sent to Python workers":
                    continue
                raw = values.get(m.accumulatorId())
                if raw.isDefined():
                    hit = _SIZE.search(str(raw.get()))
                    if hit:
                        to_python += float(hit.group(1)) * _UNITS[hit.group(2)]
    c["pyudf.mb_to_python"] = to_python / 2**20
    return dict(c)


def streaming_listener(spark):
    """A registered StreamingQueryListener whose ``totals()`` sums
    micro-batches, their duration, state rows and sink rows."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.sums = defaultdict(float)
            self._state: dict[str, float] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.sums["streaming.batches"] += 1
            self.sums["streaming.batch_s"] += p.batchDuration / 1e3
            self._state[str(p.id)] = float(sum(s.numRowsTotal for s in p.stateOperators))
            if p.sink is not None and p.sink.numOutputRows >= 0:
                self.sums["streaming.sink_rows"] += p.sink.numOutputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def totals(self) -> dict[str, float]:
            return dict(self.sums, **{"streaming.state_rows": sum(self._state.values())})

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
