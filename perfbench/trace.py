"""Spans around the calls the benchmark makes into each layer.

The program is not instrumented: ``Tracer.patch_program`` wraps, for the length of
a traced run, the public functions the workloads go through (the warehouse
load, its table reads and commits, eager barriers, the curated view and
the export) and restores them afterwards. Spans are kept in memory and
written once, at the end of the run.

Besides spans, ``SqlMetrics`` reads the engine's own counters from Spark's
status stores (jobs, stages, and the SQL metrics of every plan node), and
``ProgressLog`` keeps the streaming progress reports.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.streaming import StreamingQueryListener

from real_time_flight_data_pipeline_spark.streaming import pipeline, watermark


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: str


class Tracer:
    """In-memory spans. A span's parent is the innermost open span of the
    same thread; its trace id is the one set by ``trace`` (one per batch or
    query). ``own_s`` accumulates the tracer's own time, so the cost of
    tracing is known."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self.own_s = 0.0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def own(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def trace(self, trace_id: str):
        prev = getattr(self._local, "trace", "")
        self._local.trace = trace_id
        try:
            yield
        finally:
            self._local.trace = prev

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, 0.0, 0.0, stack[-1] if stack else None,
                                   getattr(self._local, "trace", "")))
        stack.append(idx)
        start = time.perf_counter()
        self.own_s += start - t_in
        try:
            yield self.spans[idx]
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans[idx].start, self.spans[idx].end = start, end
            self.own_s += time.perf_counter() - end

    def wrap(self, owner: object, attr: str, name) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until ``unpatch``.
        ``name`` is a span name, or a callable of the call's arguments."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            label = name(*args) if callable(name) else name
            with self.span(label):
                return fn(*args, **kwargs)

        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def patch_program(self) -> None:
        table = lambda op: lambda self, *a: f"table.{op}.{self.path.rsplit('/', 1)[-1]}"  # noqa: E731
        self.wrap(pipeline, "warehouse_load", "pipeline.warehouse_load")
        self.wrap(pipeline, "curated_view", "watermark.curated_view")
        self.wrap(watermark, "next_export_batch", "watermark.next_export_batch")
        self.wrap(ClassicDataFrame, "localCheckpoint", "barrier.localCheckpoint")
        self.wrap(pipeline.ParquetTable, "read", table("read"))
        self.wrap(pipeline.BucketedParquetTable, "read", table("read"))
        self.wrap(pipeline.ParquetTable, "overwrite", table("overwrite"))

    def unpatch(self) -> None:
        while self._restore:
            owner, attr, fn = self._restore.pop()
            setattr(owner, attr, fn)

    # -- summaries ---------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus direct children."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += max(0.0, (s.end - s.start) - child[i])
        return dict(out)

    def total(self, prefix: str) -> tuple[int, float]:
        """(count, summed duration) of the spans whose name starts with
        prefix, within a batch or query (set-up work has no trace id)."""
        sel = [s for s in self.spans if s.name.startswith(prefix) and s.trace]
        return len(sel), sum(s.end - s.start for s in sel)

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = []
        for i, s in enumerate(self.spans):
            d = asdict(s)
            d.update(id=i, start=round(s.start - t0, 6), end=round(s.end - t0, 6))
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_s": self.self_times()}, f, default=str)


# ---------------------------------------------------------------------------
# Engine counters from Spark's status stores
# ---------------------------------------------------------------------------
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

# SQL metric name -> per-layer metric it adds to.
OPERATOR_METRICS = {
    "scan time": "sources.scan_ms",
    "size of files read": "sources.bytes_read",
    "number of files read": "sources.files_read",
    "time in aggregation build": "operators.agg_ms",
    "sort time": "operators.sort_ms",
    "spill size": "operators.spill_bytes",
    "fetch wait time": "operators.shuffle_fetch_wait_ms",
    "shuffle bytes written": "operators.shuffle_bytes_written",
    "data sent to Python workers": "arrow.python_bytes_sent",
    "data returned from Python workers": "arrow.python_bytes_received",
}


_LABEL = re.compile(r'labelType="html" label="(.*?)" tooltip=')
_NODE = re.compile(r'labelType="html" label="(?:<br>)?<b>(.*?)</b>')  # every node


def plan_metrics(dot: str) -> list[tuple[str, str, str]]:
    """(node, metric, value) triples from a plan graph's DOT text, in which
    each node label reads '<b>Node</b><br><br>name: value<br>...', or
    'name total (min, med, max ...)<br>value (...)' for a per-task metric."""
    out = []
    for label in _LABEL.findall(dot):
        m = re.search(r"<b>(.*?)</b>(.*)", label)
        if m is None:
            continue
        lines = iter(x for x in m.group(2).split("<br>") if x)
        for line in lines:
            if " total (min, med, max" in line:
                out.append((m.group(1), line.split(" total (", 1)[0], next(lines, "")))
            elif ": " in line:
                name, value = line.split(": ", 1)
                out.append((m.group(1), name, value))
    return out


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ('1,234', '12.5 KiB', '3 ms (1 ms, ...)')
    as a number, sizes in bytes and times in milliseconds."""
    m = _NUM.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class SqlMetrics:
    """Engine counters of work finished since the last call: job, stage and
    task counts (``counts``, cheap) and the per-node SQL metrics of every
    query execution (``operators``, one walk over the plan graphs)."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self.app = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._stage_args = (None, False, False,
                            spark.sparkContext._gateway.new_array(jvm.double, 0),
                            jvm.java.util.ArrayList())
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[int] = set()
        self.seen_exec = -1
        self.mark()

    def mark(self) -> None:
        """Count only work that finishes after this call."""
        self.counts()
        ids = [e.executionId() for e in self.conv.asJava(self.sql.executionsList())]
        self.seen_exec = max(ids, default=self.seen_exec)

    def counts(self) -> dict[str, float]:
        out = {"spark.jobs": 0.0, "spark.stages": 0.0, "spark.tasks": 0.0}
        for job in self.conv.asJava(self.app.jobsList(None)):
            if job.jobId() not in self.seen_jobs:
                self.seen_jobs.add(job.jobId())
                out["spark.jobs"] += 1
        for st in self.conv.asJava(self.app.stageList(*self._stage_args)):
            if st.stageId() not in self.seen_stages:
                self.seen_stages.add(st.stageId())
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numTasks()
        return out

    def operators(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        newest = self.seen_exec
        for e in self.conv.asJava(self.sql.executionsList()):
            eid = e.executionId()
            if eid <= self.seen_exec:
                continue
            newest = max(newest, eid)
            dot = self.sql.planGraph(eid).makeDotFile(self.sql.executionMetrics(eid))
            for node, metric, value in plan_metrics(dot):
                is_scan = node.startswith("Scan")
                key = OPERATOR_METRICS.get(metric)
                if key is None and is_scan and metric == "number of output rows":
                    key = "sources.rows_read"
                if key is not None:
                    out[key] += parse_metric(value)
            out["sources.scan_nodes"] += sum(n.startswith("Scan") for n in _NODE.findall(dot))
        self.seen_exec = newest
        return dict(out)


def catalyst_phases(df: DataFrame) -> dict[str, float]:
    """Analysis/optimization/planning ms of the DataFrame's own plan (planned
    here if it was not yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    jvm = df.sparkSession.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)
        out[f"catalyst.{k}_ms"] = float(p.durationMs()) if p is not None else 0.0
    return out


class ProgressLog(StreamingQueryListener):
    """Streaming progress reports of every trigger that read input."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            kept = p.observedMetrics.get("kept")
            self.progress.append({"batch": p.batchId, "rows": p.numInputRows,
                                  **({"kept": kept["rows"]} if kept else {}),
                                  **{k: float(v) for k, v in p.durationMs.items()}})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
