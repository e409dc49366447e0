"""Traced run: spans around the engine's public entry points, plus Spark's
own status stores, folded into per-layer metrics for each request.

Spans are recorded by wrapping public functions from this file (nothing
in the package changes).  Each span keeps its name, start, end, parent
and request id; spans stay in memory until the run ends.  A layer's self
time is its span's duration minus the part its child spans cover.

Spark work is attributed to a request by watermarks: the jobs whose ids
were allocated, and the SQL executions that started, between the
request's start and end (one client thread, so nothing else runs).
"""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.readwriter import DataFrameWriter
from pyspark.sql.session import SparkSession

PKG = "clickhouse_is_a_free_analytics_dbms_for_big_data__spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int
    chars: int = 0


def self_times(spans: list[Span], base: int = 0) -> list[float]:
    """Self time of each span: its duration minus the union of the
    intervals its direct children cover (children of one client thread
    never overlap, so the union is their sum).  ``spans`` is a slice of
    the tracer's list starting at index ``base``."""
    own = [s.end - s.start for s in spans]
    for s in spans:
        if s.parent is not None and s.parent >= base:
            own[s.parent - base] -= s.end - s.start
    return own


class Tracer:
    """Span recorder.  ``wrap`` replaces a function attribute with a
    recording wrapper; ``restore`` puts every original back."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.request = -1
        self.frames: list = []  # DataFrames built by SparkSession.sql
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str, count_chars: bool = False,
             keep: bool = False) -> None:
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            idx = len(tracer.spans)
            parent = tracer.stack[-1] if tracer.stack else None
            span = Span(name, time.perf_counter(), 0.0, parent, tracer.request)
            tracer.spans.append(span)
            tracer.stack.append(idx)
            try:
                out = fn(*args, **kwargs)
                if count_chars and isinstance(out, str):
                    span.chars = len(out)
                if keep:
                    tracer.frames.append(out)
                return out
            finally:
                span.end = time.perf_counter()
                tracer.stack.pop()

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    @property
    def active(self) -> bool:
        return bool(self._patched)

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around one of the benchmark's own calls."""
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.request))
        self.stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self.stack.pop()

    def install(self) -> None:
        from importlib import import_module

        engine = import_module(f"{PKG}.dialect.engine").ChEngine
        formats = import_module(f"{PKG}.sources.formats")
        mergetree = import_module(f"{PKG}.sources.mergetree")
        self.wrap(engine, "collect", "dialect.collect")
        self.wrap(engine, "execute", "dialect.execute")
        self.wrap(engine, "translate", "dialect.translate", count_chars=True)
        self.wrap(engine, "insert_native", "dialect.insert_native")
        # the engine imports these at call time, so module attributes are
        # what it resolves
        self.wrap(formats, "parse_native", "sources.native_decode")
        for fn in ("compact_replacing", "compact_summing", "compact_collapsing"):
            self.wrap(mergetree, fn, "sources.compact")
        self.wrap(SparkSession, "sql", "spark.sql", keep=True)
        self.wrap(DataFrame, "collect", "spark.action")
        self.wrap(DataFrame, "count", "spark.action")
        self.wrap(DataFrame, "localCheckpoint", "spark.action")
        self.wrap(DataFrameWriter, "save", "spark.action")

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


# ---------------------------------------------------------------- Spark

_NUM = re.compile(r"([\d,]+(?:\.\d+)?)\s*(ms|s|min|h|B|KiB|MiB|GiB|TiB)?")
_UNIT = {None: 1, "ms": 1, "s": 1e3, "min": 6e4, "h": 3.6e6,
         "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def metric_value(text: str | None) -> float:
    """Total of a rendered SQL metric: ``"12 ms"``, ``"1,234"`` or the
    multi-task form ``"total (min, med, max ...)\\n12 ms (...)"``."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


# plan-graph metrics per layer metric: (node name test, metric name)
_OP_METRICS = {
    "spark.op.codegen_ms": (lambda n: n.startswith("WholeStageCodegen"), "duration"),
    "spark.op.agg_build_ms": (lambda n: "Aggregate" in n, "time in aggregation build"),
    "spark.op.sort_ms": (lambda n: n == "Sort", "sort time"),
    "spark.op.scan_ms": (lambda n: "Scan" in n, "scan time"),
    "sources.scan_rows": (lambda n: n.startswith("Scan") or "FileScan" in n, "number of output rows"),
    "sources.scan_bytes": (lambda n: n.startswith("Scan") or "FileScan" in n, "size of files read"),
    "sources.files_read": (lambda n: n.startswith("Scan") or "FileScan" in n, "number of files read"),
    "functions.python_rows": (lambda n: "Python" in n or "Pandas" in n, "number of output rows"),
    "functions.python_bytes_sent": (lambda n: "Python" in n or "Pandas" in n, "data sent to Python workers"),
    "functions.python_bytes_returned": (lambda n: "Python" in n or "Pandas" in n, "data returned from Python workers"),
}


class SparkProbe:
    """Reads Spark's status stores (available with the UI disabled)."""

    def __init__(self, spark: SparkSession) -> None:
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.next_exec = int(self.sql.executionsCount())

    def flush(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def job_mark(self) -> int:
        return int(self.jsc.dagScheduler().numTotalJobs())

    def stage_totals(self, job_lo: int, job_hi: int) -> dict[str, float]:
        """Job, stage and task counts, job wall time (union of job
        intervals), and summed stage metrics of jobs [job_lo, job_hi)."""
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "job_wall_ms", "run_ms", "cpu_ms", "gc_ms",
             "deserialize_ms", "shuffle_write_bytes", "shuffle_read_bytes",
             "fetch_wait_ms", "spill_bytes"), 0.0)
        spans = []
        for jid in range(job_lo, job_hi):
            try:
                job = self.store.job(jid)
            except Py4JJavaError:  # evicted or never registered
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            for k in range(ids.size()):
                try:
                    st = self.store.lastStageAttempt(ids.apply(k))
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["deserialize_ms"] += st.executorDeserializeTime()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["fetch_wait_ms"] += st.shuffleFetchWaitTime()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        spans.sort()
        end = None
        for a, b in spans:
            if end is None or a > end:
                out["job_wall_ms"] += b - a
                end = b
            elif b > end:
                out["job_wall_ms"] += b - end
                end = b
        return out

    def new_executions(self) -> list[int]:
        ids = []
        while self.sql.execution(self.next_exec).isDefined():
            ids.append(self.next_exec)
            self.next_exec += 1
        return ids

    def plan_metrics(self, exec_ids: list[int]) -> dict[str, float]:
        """Plan-graph operator metrics summed over the executions; a key
        is present only when some plan had a matching operator."""
        out: dict[str, float] = {}
        for eid in exec_ids:
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                metrics = node.metrics()
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    for key, (test, mname) in _OP_METRICS.items():
                        if pm.name() == mname and test(name):
                            v = values.get(pm.accumulatorId())
                            out[key] = out.get(key, 0.0) + (
                                metric_value(v.get()) if v.isDefined() else 0.0
                            )
        return out


def phases_ms(frames: list) -> dict[str, float]:
    """Catalyst phase times of DataFrames a request built with
    ``SparkSession.sql``; optimization and planning exist only for the
    ones that were executed through their own query execution."""
    out = {"spark.analysis_ms": 0.0, "spark.optimization_ms": 0.0, "spark.planning_ms": 0.0}
    for df in frames:
        ph = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            o = ph.get(phase)
            if o.isDefined():
                out[f"spark.{phase}_ms"] += o.get().durationMs()
    return out


def _top_level(spans: list[Span], lo: int, name: str) -> list[Span]:
    """Spans from index ``lo`` called ``name`` with no ancestor of the
    same name (``translate`` re-enters itself for views)."""
    out = []
    for s in spans[lo:]:
        if s.name != name:
            continue
        p = s.parent
        while p is not None and spans[p].name != name:
            p = spans[p].parent
        if p is None:
            out.append(s)
    return out


class Observer:
    """Per-request layer metrics for ``harness.closed_loop``."""

    def __init__(self, spark: SparkSession, extras=None) -> None:
        self.tracer = Tracer()
        self.probe = SparkProbe(spark)
        self.extras = extras  # workload hook: (op, out, metrics) -> dict

    def enable(self, on: bool) -> None:
        """Install the wrappers for a traced request, remove them otherwise."""
        if on and not self.tracer.active:
            self.tracer.install()
        elif not on:
            self.tracer.restore()

    def begin(self, op):
        self.probe.flush()
        self.probe.new_executions()  # skip work done between requests
        self.tracer.request += 1
        self.tracer.frames.clear()
        return self.probe.job_mark(), len(self.tracer.spans)

    def end(self, ctx, seconds: float, op, out) -> dict[str, float]:
        job_lo, span_lo = ctx
        self.probe.flush()
        st = self.probe.stage_totals(job_lo, self.probe.job_mark())
        pm = self.probe.plan_metrics(self.probe.new_executions())
        spans = self.tracer.spans

        def total(name: str) -> float:
            return sum(s.end - s.start for s in _top_level(spans, span_lo, name)) * 1000

        translate = _top_level(spans, span_lo, "dialect.translate")
        names = {s.name for s in spans[span_lo:]}
        # a layer's metrics exist only for requests that entered it, so
        # its medians are taken over those requests
        m = {
            key: total(span)
            for key, span in (
                ("dialect.translate_ms", "dialect.translate"),
                ("sources.native_decode_ms", "sources.native_decode"),
                ("sources.compact_ms", "sources.compact"),
                ("queries.build_ms", "queries.build"),
            )
            if span in names
        }
        if translate:
            m["dialect.spark_sql_chars"] = float(sum(s.chars for s in translate))
        if "dialect.insert_native" in names:
            m["dialect.insert_driver_ms"] = (
                total("dialect.insert_native") - st["job_wall_ms"]
                - m.get("sources.native_decode_ms", 0.0)
            )
        m.update({
            "spark.sql_calls": float(sum(1 for s in spans[span_lo:] if s.name == "spark.sql")),
            "spark.jobs_per_op": st["jobs"],
            "spark.stages_per_op": st["stages"],
            "spark.tasks_per_op": st["tasks"],
            "spark.job_wall_ms": st["job_wall_ms"],
            "spark.outside_jobs_ms": max(seconds * 1000 - st["job_wall_ms"], 0.0),
            "spark.executor_run_ms": st["run_ms"],
            "spark.executor_cpu_ms": st["cpu_ms"],
            "spark.gc_ms": st["gc_ms"],
            "spark.deserialize_ms": st["deserialize_ms"],
            "spark.shuffle_write_bytes": st["shuffle_write_bytes"],
            "spark.shuffle_read_bytes": st["shuffle_read_bytes"],
            "spark.fetch_wait_ms": st["fetch_wait_ms"],
            "spark.spill_bytes": st["spill_bytes"],
            "spark.run_cpu_ratio": st["run_ms"] / st["cpu_ms"] if st["cpu_ms"] else 0.0,
        })
        m.update(phases_ms(self.tracer.frames))
        m.update(pm)
        if "functions.python_rows" in m:
            m["functions.python_bytes"] = (
                m.pop("functions.python_bytes_sent", 0.0)
                + m.pop("functions.python_bytes_returned", 0.0)
            )
        # self time per span name: where the request's driver time went
        own = self_times(spans[span_lo:], span_lo)
        for sp, t in zip(spans[span_lo:], own):
            key = f"self.{sp.name}_ms"
            m[key] = m.get(key, 0.0) + t * 1000
        if self.extras is not None:
            m.update(self.extras(op, out, m))
        self.tracer.frames.clear()
        return m

    def write_spans(self, path: str) -> None:
        """All spans of the run, one JSON array per line:
        name, start, end (seconds, perf_counter), parent index, request."""
        import json

        with open(path, "w") as f:
            for s in self.tracer.spans:
                f.write(json.dumps([s.name, s.start, s.end, s.parent, s.request]) + "\n")
