"""Spans around calls into the engine's layers, with Spark's own counters.

A `Tracer` opens one span per call (name, start, end, parent) and gives
each span its own Spark job group, so every job the call runs is tagged
with the span.  Spans live in memory; `Tracer.collect` reads jobs,
stages, tasks, executor run/CPU time, shuffle bytes, spill and the
Python-boundary bytes from the status store of the live SparkContext
(call it before the session stops), and `Tracer.write` dumps everything
as JSON at the end of the run.

Jobs started from a thread without the span's job group (a few registry
queries run jobs from their own thread pools) are attributed to the
innermost span open when they were submitted.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

#: per-span Spark counters, summed over the span's own jobs
SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "python_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)
    # [submitted, completed] epoch seconds of each stage the span's jobs ran
    stage_intervals: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: s.duration
        - covered([(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end)
        for s in spans
    }


def descendants(spans: list[Span], root: int) -> list[Span]:
    """`root` and every span below it."""
    out, frontier = [], {root}
    for s in spans:  # spans are stored in open order, parents first
        if s.id in frontier or s.parent in frontier:
            frontier.add(s.id)
            out.append(s)
    return out


_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> int:
    """Total bytes from a SQL size metric's display string, whose first
    figure is the total (e.g. ``"total (min, med, max)\\n1.5 KiB (...)"``)."""
    m = _SIZE.search(text)
    return int(float(m.group(1)) * _UNITS[m.group(2)]) if m else 0


class NoTrace:
    """Stand-in for `Tracer` in untraced passes: the program runs exactly
    as it composes itself."""

    def span(self, name: str):
        return nullcontext()

    def boundary(self, df, key: str = "rows"):
        return df


class Tracer:
    """Spans for one traced pass; see the module docstring."""

    def __init__(self, run_tag: str) -> None:
        self.run_tag = run_tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the (new) session whose jobs the next spans run."""
        self._sc = spark.sparkContext

    def _group(self, span: Span) -> str:
        return f"{self.run_tag}-{span.id}"

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1].id if self._stack else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(self._group(s), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self._sc.setJobGroup(self._group(parent), parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def boundary(self, df, key: str = "rows"):
        """Persist and count `df` inside the open span, so the work that
        produces it lands there (Spark is lazy); adds the count to the
        span's ``counts[key]``."""
        df = df.persist()
        counts = self._stack[-1].counts
        counts[key] = counts.get(key, 0) + df.count()
        return df

    # -- status store ------------------------------------------------------

    def collect(self, spark) -> None:
        """Fill every span's Spark counters from the live status store."""
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        by_group = {self._group(s): s for s in self.spans}
        for s in self.spans:
            s.spark = dict.fromkeys(SPARK_KEYS, 0)
        job_span: dict[int, Span] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            span = by_group.get(group.get()) if group.isDefined() else None
            if span is None:
                sub = job.submissionTime()
                span = self._innermost(sub.get().getTime() / 1000.0) if sub.isDefined() else None
            if span is None:
                continue
            job_span[job.jobId()] = span
            span.spark["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                self._add_stage(store, span, ids.apply(k))
        self._add_python_bytes(spark, job_span)

    def _innermost(self, t: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def _add_stage(self, store, span: Span, stage_id: int) -> None:
        st = store.lastStageAttempt(stage_id)
        if st.status().toString() == "SKIPPED":
            return
        m = span.spark
        m["stages"] += 1
        m["tasks"] += st.numTasks()
        m["executor_run_s"] += st.executorRunTime() / 1e3
        m["executor_cpu_s"] += st.executorCpuTime() / 1e9
        m["shuffle_read_bytes"] += st.shuffleReadBytes()
        m["shuffle_write_bytes"] += st.shuffleWriteBytes()
        m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        m["input_bytes"] += st.inputBytes()
        sub, done = st.submissionTime(), st.completionTime()
        if sub.isDefined() and done.isDefined():
            span.stage_intervals.append(
                (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
            )

    def _add_python_bytes(self, spark, job_span: dict[int, Span]) -> None:
        """Bytes sent to and returned from Python workers, from the SQL
        metrics of the executed plans' Python nodes."""
        sql = spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            keys = ex.jobs().keysIterator()
            span = None
            while span is None and keys.hasNext():
                span = job_span.get(keys.next())
            if span is None:
                continue
            ids = set()
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                metrics = node.metrics()
                for x in range(metrics.size()):
                    metric = metrics.apply(x)
                    if "Python workers" in metric.name() and metric.name().startswith("data "):
                        ids.add(metric.accumulatorId())
            if not ids:
                continue
            values = sql.executionMetrics(ex.executionId()).iterator()
            while values.hasNext():
                kv = values.next()
                if kv._1() in ids:
                    span.spark["python_bytes"] += parse_size(kv._2())

    # -- summaries ---------------------------------------------------------

    def totals(self, root: int | None = None) -> dict:
        """Spark counters summed over the spans below `root` (all spans when
        None), plus ``driver_s``: wall time not covered by any stage."""
        spans = self.spans if root is None else descendants(self.spans, root)
        out = dict.fromkeys(SPARK_KEYS, 0)
        for s in spans:
            for k in SPARK_KEYS:
                out[k] += s.spark.get(k, 0)
        tops = [s for s in spans if s.parent is None or (root is not None and s.id == root)]
        lo = min(s.start for s in tops)
        hi = max(s.end for s in tops)
        stages = [iv for s in spans for iv in s.stage_intervals]
        wall = covered([(s.start, s.end) for s in tops], lo, hi)
        out["driver_s"] = wall - covered(stages, lo, hi)
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str, extra: dict | None = None) -> None:
        selfs = self_times(self.spans)
        rows = []
        for s in self.spans:
            row = asdict(s)
            row.pop("stage_intervals")
            row["self_s"] = selfs[s.id]
            row["spark"] = dict(row["spark"], driver_s=self.totals(s.id)["driver_s"]) if row["spark"] else {}
            rows.append(row)
        with open(path, "w") as fh:
            json.dump({"spans": rows, **(extra or {})}, fh, indent=1)
