"""In-memory spans at the engine's layer boundaries, plus Spark's own
execution record.

The tracer never edits the engine: it replaces public functions at each
layer boundary with a wrapper that opens a span around the original call
(``wrap``) and restores them on ``close``. A span records its name, its
interval, the span that caused it, and the Spark job ids issued inside it
(the DAG scheduler's next job id at entry and exit, a delta that keeps
counting past ``spark.ui.retainedJobs``). Work the tracer itself does
inside a span is timed as ``book`` so it can be told apart from the
layer's self time.

After an op, ``harvest`` reads what Spark recorded for each collected
DataFrame: Catalyst's ``QueryPlanningTracker`` phases (inserted as
derived spans where they happened), and jobs, stages, tasks, executor run
time, shuffle and spill bytes from the JVM ``AppStatusStore`` (works with
the UI off), plus the Python-worker byte counters of the executed plan.
"""

from __future__ import annotations

import functools
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: int  # index in Tracer.spans; -1 for an op root
    op: int
    start: float = 0.0  # time.perf_counter() seconds
    end: float = 0.0
    book: float = 0.0  # tracer bookkeeping inside [start, end]
    jobs0: int = 0
    jobs1: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Execution:
    """One traced ``collect()`` of a DataFrame the benchmark watches."""

    df: object
    span: int
    wall_ms: tuple[float, float]  # epoch ms around the action
    spark: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.executions: list[Execution] = []
        self.counters: Counter = Counter()
        self.op = -1
        self.watched = None  # DataFrame whose collect() is the op's execution
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._next_job_id = lambda: 0
        self._sc = None
        # epoch = perf_counter + offset, for placing Spark's wall-clock stamps
        self._epoch_offset = time.time() - time.perf_counter()

    # -- lifecycle --------------------------------------------------------

    def attach(self, spark) -> None:
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._next_job_id = self._sc.dagScheduler().nextJobId

    def close(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_enter = time.perf_counter()
        span = Span(name, self._stack[-1] if self._stack else -1, self.op, start=t_enter)
        span.jobs0 = self._next_job_id()
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        t_in = time.perf_counter()
        try:
            yield span
        finally:
            t_out = time.perf_counter()
            self._stack.pop()
            span.jobs1 = self._next_job_id()
            span.end = time.perf_counter()
            span.book += (t_in - t_enter) + (span.end - t_out)

    def wrap(self, owner, attr: str, name: str, after=None, count: str | None = None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper. ``after(result)``
        runs on success; ``count`` names a counter bumped per call."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            if count:
                self.counters[count] += 1
            with self.span(name):
                result = original(*args, **kwargs)
            if after is not None:
                after(result)
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def wrap_collect(self, dataframe_cls) -> None:
        """Span ``collect()`` of the watched DataFrame as ``exec.collect``;
        every other collect (statistics jobs, probes) stays inside the
        span of the layer that issued it."""
        original = dataframe_cls.collect

        @functools.wraps(original)
        def collect(df):
            if not self.enabled or df is not self.watched:
                return original(df)
            with self.span("exec.collect"):
                t0 = time.time() * 1000.0
                rows = original(df)
                t1 = time.time() * 1000.0
            self.executions.append(Execution(df, len(self.spans) - 1, (t0, t1)))
            return rows

        self._patches.append((dataframe_cls, "collect", original))
        dataframe_cls.collect = collect

    # -- Spark's record, read after the op --------------------------------

    def harvest(self, first_span: int) -> None:
        """Fold Spark's record of every execution since ``first_span`` into
        derived spans and per-execution figures. Runs outside the op's
        timed region."""
        self._sc.listenerBus().waitUntilEmpty()
        for ex in self.executions:
            if ex.span < first_span or ex.spark:
                continue
            self._add_phase_spans(ex, first_span)
            span = self.spans[ex.span]
            ex.spark = self._job_figures(span.jobs0, span.jobs1, ex.wall_ms)
            ex.spark.update(python_bytes(ex.df))
            ex.df = None  # keep no plan handles alive across ops

    def _add_phase_spans(self, ex: Execution, first_span: int) -> None:
        phases = ex.df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        op = self.spans[ex.span].op
        while it.hasNext():
            kv = it.next()
            start = kv._2().startTimeMs() / 1000.0 - self._epoch_offset
            end = kv._2().endTimeMs() / 1000.0 - self._epoch_offset
            parent = self._innermost(op, (start + end) / 2.0, first_span)
            if parent < 0:
                continue  # planned before this op (a reused DataFrame)
            host = self.spans[parent]
            derived = Span(f"catalyst.{kv._1()}", parent, op)
            derived.start, derived.end = max(start, host.start), min(end, host.end)
            derived.jobs0 = derived.jobs1 = host.jobs0
            self.spans.append(derived)

    def _innermost(self, op: int, t: float, first_span: int) -> int:
        best = -1
        for i in range(first_span, len(self.spans)):
            s = self.spans[i]
            if s.op == op and s.start <= t <= s.end and not s.name.startswith("catalyst."):
                best = i  # later spans nest inside earlier ones
        return best

    def _job_figures(self, j0: int, j1: int, wall_ms: tuple[float, float]) -> dict:
        store = self._sc.statusStore()
        jvm = self._spark.sparkContext._jvm
        no_list = jvm.java.util.Collections.emptyList()
        no_quantiles = self._spark.sparkContext._gateway.new_array(jvm.double, 0)
        out = Counter()
        intervals = []
        stage_ids = set()
        for job_id in range(j0, j1):
            job = store.job(job_id)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            seq = job.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        for stage_id in sorted(stage_ids):
            attempts = store.stageData(stage_id, False, no_list, False, no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["driver_gap_ms"] = max(0.0, (wall_ms[1] - wall_ms[0]) - covered(intervals, wall_ms))
        return dict(out)

    def storage_bytes(self) -> int:
        """Bytes the block manager holds for persisted frames right now."""
        infos = self._sc.getRDDStorageInfo()
        return sum(info.memSize() + info.diskSize() for info in infos)


def covered(intervals: list[tuple[float, float]], window: tuple[float, float]) -> float:
    """Length of the union of ``intervals`` clipped to ``window``."""
    total, cursor = 0.0, window[0]
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, cursor), min(hi, window[1])
        if hi > lo:
            total += hi - lo
            cursor = hi
    return total


def python_bytes(df) -> dict:
    """Bytes sent to and received from Python workers by the executed plan
    of ``df`` (the ``pythonDataSent``/``pythonDataReceived`` SQL metrics of
    Arrow/pandas UDF operators). Cached relations are not descended into:
    their UDFs ran when the cache was written, not in this execution."""
    sent = received = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        if name == "ReusedExchange":
            continue  # its metrics belong to the exchange it reuses
        metrics = node.metrics()
        if metrics.contains("pythonDataSent"):
            sent += metrics.apply("pythonDataSent").value()
            received += metrics.apply("pythonDataReceived").value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
        subqueries = node.subqueries()
        todo.extend(subqueries.apply(i) for i in range(subqueries.size()))
    return {"python_bytes_to_worker": sent, "python_bytes_from_worker": received}


# -- span arithmetic ---------------------------------------------------------


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its direct children's
    intervals minus the tracer's own bookkeeping inside it (seconds)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.seconds - covered(children.get(i, []), (s.start, s.end)) - s.book
        for i, s in enumerate(spans)
    ]


def self_jobs(spans: list[Span]) -> list[int]:
    """Per span: Spark jobs issued inside it and not inside a child."""
    out = [s.jobs1 - s.jobs0 for s in spans]
    for s in spans:
        if s.parent >= 0 and not s.name.startswith("catalyst."):
            out[s.parent] -= s.jobs1 - s.jobs0
    return out
