"""Spans around the calls the benchmark makes into each layer, Spark's own
job and stage accounting, and the roll-up of both into per-layer metrics.

A span records its name, parent, start and end, and the Spark job ids
submitted while it was open (job ids are handed out in order by the
DAGScheduler, so a span owns the id range ``[j0, j1)``). After the traced
phase the job and stage records are read from Spark's status store, each
job is given to the innermost span whose range holds it, and each executed
stage to the first job that ran it.

``install`` wraps the public functions of the program's modules in place,
at the module attribute every caller looks them up by (``jobs.conform``,
``sinks.lakehouse.write_table``, ``operators.graph.k_core``...), so calls
made inside the program are traced too. ``uninstall`` puts them back.

``listen`` registers a QueryExecutionListener that reads the Catalyst phase
times (analysis, optimization, planning) from the QueryExecution of every
query that runs: the sink's write command and every eager action a builder
takes. Each is given to the innermost span open when its optimization
began. Nothing is planned twice for it.
"""

from __future__ import annotations

import bisect
import functools
import importlib
import pkgutil
import time
import types
from contextlib import contextmanager

PACKAGE = "pipelines_rj_sms_spark"
# Subpackages whose public functions get spans. functions.* only builds
# Column expressions and is called thousands of times per plan.
TRACED = ("operators", "sources", "sinks", "quality", "jobs")

# Layer of a span, by name prefix; a span with no match inherits its
# parent's layer, and an op's own (self) time counts as exec.
_LAYERS = (
    ("build", "build"), ("release", "cache"),
    ("sources.", "build"), ("operators.conform.", "build"),
    ("quality.", "exec"), ("sinks.", "exec"), ("jobs.", "exec"),
    ("exec", "exec"),
)


def _explicit_layer(name: str) -> str | None:
    for prefix, layer in _LAYERS:
        if name == prefix or (prefix.endswith(".") and name.startswith(prefix)):
            return layer
    return None


class Tracer:
    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._session = spark._jsparkSession
        self._listener = None
        self.spans: list[dict] = []
        self.queries: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.epoch = time.time() - time.perf_counter()

    def job_id(self) -> int:
        """Id the next Spark job will get."""
        return int(self._jsc.dagScheduler().numTotalJobs())

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "t0": time.perf_counter(), "j0": self.job_id(),
               **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["j1"] = self.job_id()
            rec["t1"] = time.perf_counter()

    # ---------------------------------------------------------- wrapping
    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced._perfbench_traced = True
        return traced

    def install(self) -> int:
        """Wrap every public function of the traced modules at each
        module attribute that names it. Returns how many were wrapped."""
        pkg = importlib.import_module(PACKAGE)
        mods = []
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            if info.name.split(".")[1] not in TRACED:
                continue
            try:
                mods.append(importlib.import_module(info.name))
            except ImportError:  # optional dependency missing: not traced
                continue
        for mod in mods:
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not isinstance(fn, types.FunctionType)
                        or getattr(fn, "_perfbench_traced", False)
                        or not fn.__module__.startswith(PACKAGE + ".")):
                    continue
                name = fn.__module__[len(PACKAGE) + 1:] + "." + fn.__qualname__
                self._patched.append((mod, attr, fn))
                setattr(mod, attr, self._wrap(fn, name))
        return len(self._patched)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    # --------------------------------------------------- executed queries
    def listen(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self._gw)
        self._listener = _QueryListener(self.queries)
        self._session.listenerManager().register(self._listener)

    def unlisten(self) -> None:
        """Wait for the listener bus to deliver every query, then stop."""
        if self._listener is not None:
            self._jsc.listenerBus().waitUntilEmpty()
            self._session.listenerManager().unregister(self._listener)
            self._listener = None

    # ------------------------------------------------------ spark records
    def spark_records(self, j_lo: int, j_hi: int) -> tuple[dict, dict]:
        """Jobs with ids in [j_lo, j_hi) and the stages they executed,
        read from the status store once its listener queue is drained."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = {}
        seq = store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = int(j.jobId())
            if j_lo <= jid < j_hi:
                jobs[jid] = {"stages": [int(s) for s in _iter(j.stageIds())],
                             "status": j.status().toString()}
        gw = self._gw
        seq = store.stageList(gw.jvm.java.util.ArrayList(), False, False,
                              gw.new_array(gw.jvm.double, 0),
                              gw.jvm.java.util.ArrayList())
        wanted = {s for j in jobs.values() for s in j["stages"]}
        stages = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = int(s.stageId())
            status = s.status().toString()
            if sid not in wanted or status in ("SKIPPED", "PENDING"):
                continue
            sub, done = s.submissionTime(), s.completionTime()
            rec = stages.setdefault(sid, {
                "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                "input_bytes": 0, "intervals": []})
            rec["tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
            rec["run_ms"] += int(s.executorRunTime())
            rec["cpu_ns"] += int(s.executorCpuTime())
            rec["gc_ms"] += int(s.jvmGcTime())
            rec["shuffle_read"] += int(s.shuffleReadBytes())
            rec["shuffle_write"] += int(s.shuffleWriteBytes())
            rec["spill"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
            rec["input_bytes"] += int(s.inputBytes())
            if sub.isDefined() and done.isDefined():
                rec["intervals"].append((sub.get().getTime() / 1e3,
                                         done.get().getTime() / 1e3))
        return jobs, stages


class _QueryListener:
    """``org.apache.spark.sql.util.QueryExecutionListener``, called by
    Spark's listener bus once per executed query."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, out: list[dict]):
        self.out = out

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 - Java interface
        self._record(func, qe)

    def onFailure(self, func, qe, exc):  # noqa: N802 - Java interface
        self._record(func, qe)

    def _record(self, func, qe) -> None:
        phases = qe.tracker().phases()
        ms, starts = {}, {}
        for k in self.PHASES:
            if phases.contains(k):
                p = phases.get(k).get()
                ms[k] = int(p.durationMs())
                starts[k] = int(p.startTimeMs())
        # a frame is analysed when it is built; it runs when it is optimized
        start = starts.get("optimization", starts.get("planning",
                                                      starts.get("analysis")))
        self.out.append({"func": func, "start_ms": start, "phases_ms": ms})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _iter(seq):
    return (seq.apply(i) for i in range(seq.size()))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def attribute(spans: list[dict], jobs: dict, stages: dict) -> None:
    """Give each job to its innermost span and each stage to the first job
    that executed it; fills ``span["jobs"]`` and ``span["stages"]``."""
    for s in spans:
        s["jobs"], s["stages"] = [], []
    # spans are stored in start order, so a later span containing a job
    # id is nested deeper than an earlier one containing it
    owner = {}
    for s in spans:
        for jid in range(s["j0"], s["j1"]):
            if jid in jobs:
                owner[jid] = s["id"]
    seen = set()
    for jid in sorted(owner):
        span = spans[owner[jid]]
        span["jobs"].append(jid)
        for sid in jobs[jid]["stages"]:
            if sid in stages and sid not in seen:
                seen.add(sid)
                span["stages"].append(sid)


def attribute_queries(spans: list[dict], queries: list[dict],
                      epoch: float) -> int:
    """Give each executed query's Catalyst time to the innermost span open
    when its optimization began (``span["catalyst_s"]``). Returns how many
    queries fell outside every span."""
    starts = [s["t0"] for s in spans]
    for s in spans:
        s["catalyst_s"] = 0.0
    outside = 0
    for q in queries:
        if q["start_ms"] is None:
            outside += 1
            continue
        t = q["start_ms"] / 1e3 - epoch
        i = bisect.bisect_right(starts, t) - 1
        # spans nest, so every span open at t is an ancestor of the one
        # that started last before t
        while i is not None and i >= 0 and spans[i]["t1"] < t:
            i = spans[i]["parent"]
        if i is None or i < 0:
            outside += 1
            continue
        spans[i]["catalyst_s"] += sum(q["phases_ms"].values()) / 1e3
    return outside


def layer_of(spans: list[dict]) -> list[str]:
    layers = []
    for s in spans:
        own = _explicit_layer(s["name"])
        if own is None:
            own = layers[s["parent"]] if s["parent"] is not None else "exec"
        layers.append(own)
    return layers


def self_times(spans: list[dict]) -> list[float]:
    out = [s["t1"] - s["t0"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["t1"] - s["t0"]
    return out


def rollup(spans: list[dict], stages: dict) -> dict:
    """Per-layer totals over the given spans: self time per layer, the
    Catalyst time of the queries that ran inside them (part of build and
    exec time), job and stage counts, executor-side stage accounting, and
    the driver gap (exec time not covered by any exec stage's run
    interval, per op)."""
    layers = layer_of(spans)
    selfs = self_times(spans)
    out = {"build.s": 0.0, "catalyst.s": 0.0, "exec.s": 0.0,
           "cache.release_s": 0.0, "build.eager_jobs": 0, "exec.jobs": 0,
           "exec.stages": 0, "exec.tasks": 0, "exec.executor_run_s": 0.0,
           "exec.executor_cpu_s": 0.0, "exec.gc_s": 0.0,
           "exec.shuffle_read_bytes": 0, "exec.shuffle_write_bytes": 0,
           "exec.spill_bytes": 0, "exec.driver_gap_s": 0.0}
    key = {"build": "build.s", "exec": "exec.s", "cache": "cache.release_s"}
    op_of = _op_index(spans)
    exec_time: dict[int, float] = {}
    exec_intervals: dict[int, list] = {}
    for s, layer, own in zip(spans, layers, selfs):
        out[key[layer]] += own
        out["catalyst.s"] += s.get("catalyst_s", 0.0)
        if layer == "build":
            out["build.eager_jobs"] += len(s["jobs"])
        else:
            out["exec.jobs"] += len(s["jobs"])
        for sid in s["stages"]:
            st = stages[sid]
            out["exec.stages"] += 1
            out["exec.tasks"] += st["tasks"]
            out["exec.executor_run_s"] += st["run_ms"] / 1e3
            out["exec.executor_cpu_s"] += st["cpu_ns"] / 1e9
            out["exec.gc_s"] += st["gc_ms"] / 1e3
            out["exec.shuffle_read_bytes"] += st["shuffle_read"]
            out["exec.shuffle_write_bytes"] += st["shuffle_write"]
            out["exec.spill_bytes"] += st["spill"]
            if layer == "exec":
                exec_intervals.setdefault(op_of[s["id"]], []).extend(
                    st["intervals"])
        if layer == "exec" and op_of[s["id"]] is not None:
            exec_time[op_of[s["id"]]] = exec_time.get(op_of[s["id"]], 0.0) + own
    for op, t in exec_time.items():
        covered = _union_length(exec_intervals.get(op, []))
        out["exec.driver_gap_s"] += max(0.0, t - covered)
    return out


def _op_index(spans: list[dict]) -> list[int | None]:
    """For each span, the id of the top-level op span it belongs to."""
    out: list[int | None] = []
    for s in spans:
        if s["parent"] is None:
            out.append(s["id"] if s["name"] == "op" else None)
        else:
            out.append(out[s["parent"]])
    return out
