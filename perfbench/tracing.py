"""Spans and per-layer counters, recorded from outside the package.

A ``Tracer`` records one span per layer boundary (name, start, end,
parent) around calls the benchmark makes into the engine's public
functions, and keeps them in memory until the run ends. With tracing
off every method is a cheap no-op apart from the clock reads the
end-to-end metrics need.

Spark-side numbers are resolved after the run, from the id ranges each
span saw:

* jobs, stages, task metrics and job intervals from the application
  status store (``SparkContext.statusStore``);
* Python-worker metrics of ``ArrowEvalPython`` / ``MapInPandas`` /
  ``FlatMapGroupsInPandas`` nodes from the SQL status store, reading
  the raw accumulator values off the stages that ran them;
* planning time of an action from the SQL status store: the time from
  the call to the submission of its SQL execution, which Spark posts
  once the physical plan exists;
* py4j round trips from a counter wrapped around the gateway client's
  ``send_command``.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                "BatchEvalPython", "FlatMapCoGroupsInPandas", "MapInArrow")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # enclosing span on the same thread
    jobs: tuple[int, int] = (0, 0)  # [first, last) job id seen
    execs: tuple[int, int] = (0, 0)  # [first, last) SQL execution id seen
    py4j: int = 0
    wall0: float = 0.0  # epoch seconds at start, to line up with Spark's clocks
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise only times them."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._py4j_calls = 0
        if enabled:
            self._sc = spark.sparkContext._jsc.sc()
            self._sql_store = spark._jsparkSession.sharedState().statusStore()
            client = spark.sparkContext._gateway._gateway_client
            send = client.send_command

            def counted(*args, **kwargs):
                if not getattr(self._local, "internal", False):
                    with self._lock:
                        self._py4j_calls += 1
                return send(*args, **kwargs)

            client.send_command = counted
            self._client, self._send = client, send

    def close(self) -> None:
        if self.enabled:
            self._client.send_command = self._send

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += value

    def _ids(self) -> tuple[int, int]:
        # the tracer's own round trips are not the engine's
        self._local.internal = True
        try:
            # the SQL store is fed asynchronously: drain the listener bus
            # so it holds every execution started so far
            self._sc.listenerBus().waitUntilEmpty(30_000)
            return (self._sc.dagScheduler().numTotalJobs(),
                    int(self._sql_store.executionsCount()))
        finally:
            self._local.internal = False

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block; when tracing, also record a span with the
        job, SQL-execution and py4j-call ranges it covered."""
        parent = getattr(self._local, "stack", None)
        if parent is None:
            parent = self._local.stack = []
        s = Span(name, 0.0, parent=parent[-1] if parent else None, attrs=attrs)
        if self.enabled:
            with self._lock:
                self.spans.append(s)
                idx = len(self.spans) - 1
            parent.append(idx)
            j0, e0 = self._ids()
            c0 = self._py4j_calls
            s.wall0 = time.time()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                parent.pop()
                s.py4j = self._py4j_calls - c0
                j1, e1 = self._ids()
                s.jobs, s.execs = (j0, j1), (e0, e1)

    # ------------------------------------------------------------------
    # post-run resolution
    # ------------------------------------------------------------------

    def _settle(self) -> None:
        # the status stores are fed by the listener bus asynchronously
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def spark_metrics(self, spans: list[Span]) -> dict:
        """Jobs, stages, tasks, executor and shuffle totals over the jobs
        the given spans saw, plus driver-only time: span wall time during
        which none of its jobs was running."""
        self._settle()
        store = self._sc.statusStore()
        out = defaultdict(float)
        for s in spans:
            intervals = []
            for jid in range(*s.jobs):
                try:
                    job = store.job(jid)
                except Exception:  # evicted or never posted
                    continue
                out["spark.jobs"] += 1
                out["spark.tasks"] += job.numTasks()
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    intervals.append((job.submissionTime().get().getTime() / 1e3,
                                      job.completionTime().get().getTime() / 1e3))
                stage_ids = job.stageIds()
                for k in range(stage_ids.size()):
                    try:
                        st = store.lastStageAttempt(stage_ids.apply(k))
                    except Exception:
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["spark.stages"] += 1
                    out["spark.executor_run_s"] += st.executorRunTime() / 1e3
                    out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                    out["spark.gc_s"] += st.jvmGcTime() / 1e3
                    out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spark.input_bytes"] += st.inputBytes()
            busy = _union(intervals)
            out["spark.in_job_s"] += min(busy, s.seconds)
            out["spark.driver_only_s"] += max(0.0, s.seconds - busy)
        return dict(out)

    def planning_s(self, spans: list[Span]) -> float:
        """Seconds from each span's start to the submission of its first
        SQL execution: analysis, optimisation and physical planning of
        the action the span times."""
        self._settle()
        total = 0.0
        for s in spans:
            submitted = []
            for eid in range(*s.execs):
                ex = self._sql_store.execution(eid)
                if ex.isDefined():
                    submitted.append(ex.get().submissionTime() / 1e3)
            if submitted:
                total += min(s.seconds, max(0.0, min(submitted) - s.wall0))
        return total

    def python_metrics(self, spans: list[Span]) -> dict:
        """Python-worker rows, bytes and time from the SQL metrics of the
        Python evaluation nodes in every SQL execution the spans saw."""
        self._settle()
        store = self._sql_store
        out = defaultdict(float)
        for s in spans:
            for eid in range(*s.execs):
                try:
                    wanted = _python_accumulators(store.planGraph(eid))
                    values = store.executionMetrics(eid) if wanted else None
                except Exception:  # evicted or never posted
                    continue
                for acc_id, metric in (wanted or {}).items():
                    v = values.get(acc_id)
                    if v.isDefined():
                        out[metric] += _metric_value(v.get())
        return dict(out)


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_value(text: str) -> float:
    """The total of a formatted SQL metric: ``"1,000"``, ``"8.1 KiB"``, or
    ``"total (min, med, max ...)\n3.9 s (...)"``; bytes and seconds."""
    head = text.split("\n")[-1].split(" (")[0].strip()
    number, _, unit = head.partition(" ")
    try:
        return float(number.replace(",", "")) * _UNITS.get(unit, 1.0)
    except ValueError:
        return 0.0


def _python_accumulators(graph) -> dict[int, str]:
    """accumulator id -> metric name for Python nodes; rows into a
    Python node are its nearest metered child's output rows."""
    nodes, children = {}, defaultdict(list)
    it = graph.allNodes().iterator()
    while it.hasNext():
        n = it.next()
        nodes[n.id()] = n
    edges = graph.edges().iterator()
    while edges.hasNext():
        e = edges.next()
        children[e.toId()].append(e.fromId())
    wanted = {}
    for nid, n in nodes.items():
        if n.name() not in PYTHON_NODES:
            continue
        metrics = n.metrics().iterator()
        while metrics.hasNext():
            m = metrics.next()
            name = m.name()
            if name == "data sent to Python workers":
                wanted[m.accumulatorId()] = "python.bytes_to_workers"
            elif name == "data returned from Python workers":
                wanted[m.accumulatorId()] = "python.bytes_from_workers"
            elif name == "time to run Python workers":
                wanted[m.accumulatorId()] = "python.worker_run_s"
        frontier = list(children[nid])
        while frontier:
            c = nodes.get(frontier.pop())
            if c is None:
                continue
            rows = [m for m in _iter(c.metrics()) if m.name() == "number of output rows"]
            if rows:
                wanted[rows[0].accumulatorId()] = "python.rows_to_workers"
            else:
                frontier.extend(children[c.id()])
    return wanted


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: duration minus the part its child spans cover."""
    child_time = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] += s.seconds
    out = defaultdict(float)
    for i, s in enumerate(spans):
        out[s.name] += s.seconds - child_time[i]
    return dict(out)


def percentile(values: list[float], q: float, grid: int = 100_000) -> float:
    """The ``q`` quantile of ``values`` by the Harrell-Davis estimator.

    It is the mean of all order statistics, weighted by the mass that a
    Beta(q(n+1), (1-q)(n+1)) distribution puts on each ``[i/n, (i+1)/n)``.
    A run's latencies mix operations of very different cost, and the one
    or two order statistics a sample quantile reads flip between
    operation kinds from run to run; spreading the weight over the
    neighbours makes the estimate much steadier. The Beta mass is
    integrated by the midpoint rule on ``grid`` points.
    """
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = (np.arange(grid) + 0.5) / grid
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    weights = np.bincount((t * n).astype(int), weights=np.exp(log_pdf - log_pdf.max()),
                          minlength=n)
    return float(weights @ x / weights.sum())
