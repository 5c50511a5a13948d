"""Span tracing from outside the engine.

The engine source is not edited: a :class:`Tracer` wraps module and
class attributes (``s3spark.fs._copy``, ``S3Pipeline.read``, ...) at
run time and restores them afterwards. A span is recorded per wrapped
call — name, start, end, parent, and the id of the operation (one verb
call, one registry key, one ETL round) it belongs to. Spans are kept in
memory and written out once, when the run ends. An attribute that no
longer exists is recorded in ``missing`` instead of failing the run.

Spans that run Spark jobs also set the job group and job description,
so jobs, stages and their metrics in the Spark event log can be
attributed back to the span that caused them (:func:`read_event_log`).
Catalyst phase times and executed plans come from the session's own
executions, through a query execution listener (:class:`SinkPlans`).
"""

from __future__ import annotations

import functools
import glob
import json
import re
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    op: int | None
    name: str
    start: float  # perf_counter seconds
    end: float = 0.0
    parent: int | None = None
    group: str | None = None  # Spark job group set while the span was open
    jobs: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span and count recorder; inert until :meth:`install`."""

    sc: object = None  # SparkContext, for job groups; None disables them
    spans: list[Span] = field(default_factory=list)
    counts: Counter = field(default_factory=Counter)
    missing: list[str] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _patches: list[tuple] = field(default_factory=list)
    _targets: list[tuple] = field(default_factory=list)
    _op: int | None = None
    _next_id: int = 0
    # perf_counter -> epoch seconds, to line spans up with event-log times
    epoch_offset: float = field(default_factory=lambda: time.time() - time.perf_counter())

    # -------------------------------------------------------------- spans

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, *, op: bool = False, job_group: bool = False):
        """Record one span. ``op=True`` starts a new operation id;
        ``job_group=True`` tags Spark jobs run inside it."""
        sid = self._next_id
        self._next_id += 1
        prev_op = self._op
        if op:
            self._op = sid
        parent = self.current
        s = Span(sid, self._op, name, time.perf_counter(), parent=parent.id if parent else None)
        prev_group = None
        if job_group and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            s.group = f"{name}#{sid}"
            self.sc.setLocalProperty("spark.jobGroup.id", s.group)
            self.sc.setLocalProperty("spark.job.description", s.group)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._op = prev_op
            if s.group is not None:
                s.jobs = len(self.sc.statusTracker().getJobIdsForGroup(s.group))
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
                self.sc.setLocalProperty("spark.job.description", prev_group)
            self.spans.append(s)
            self.counts[name] += 1

    # ------------------------------------------------------------ wrapping

    def target(self, owner, attr: str, name: str, *, job_group: bool = False, on_result=None):
        """Register ``owner.attr`` to be wrapped in span ``name`` while
        installed. ``on_result(tracer, result)`` may record counts."""
        self._targets.append((owner, attr, lambda orig: self._span_wrapper(orig, name, job_group, on_result)))

    def counter(self, owner, attr: str, name: str, *, inside: str):
        """Register ``owner.attr`` to bump count ``name`` per call made
        while the innermost open span is ``inside`` (no span of its own:
        for per-entry helpers whose own cost is below a span's)."""
        self._targets.append((owner, attr, lambda orig: self._count_wrapper(orig, name, inside)))

    def install(self) -> None:
        for owner, attr, make_wrapper in self._targets:
            orig = getattr(owner, attr, None)
            if orig is None:
                where = f"{getattr(owner, '__name__', owner)}.{attr}"
                if where not in self.missing:
                    self.missing.append(where)
                continue
            setattr(owner, attr, make_wrapper(orig))
            self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _span_wrapper(self, orig, name, job_group, on_result):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, job_group=job_group):
                result = orig(*args, **kwargs)
            if on_result is not None:
                on_result(self, result)
            return result

        return wrapper

    def _count_wrapper(self, orig, name, inside):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            cur = self.current
            if cur is not None and cur.name == inside:
                self.counts[name] += 1
            return orig(*args, **kwargs)

        return wrapper

    # ------------------------------------------------------------ analysis

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover
        (children of one span never overlap: calls are sequential)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return {s.id: s.dur - child[s.id] for s in self.spans}

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, root: Span) -> list[Span]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s.parent].append(s)
        out, todo = [], [root.id]
        while todo:
            for s in kids.get(todo.pop(), []):
                out.append(s)
                todo.append(s.id)
        return out

    def epoch(self, t: float) -> float:
        return t + self.epoch_offset

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "spans": [
                        {
                            "id": s.id,
                            "op": s.op,
                            "name": s.name,
                            "start": self.epoch(s.start),
                            "end": self.epoch(s.end),
                            "parent": s.parent,
                            "group": s.group,
                            "jobs": s.jobs,
                        }
                        for s in sorted(self.spans, key=lambda s: s.id)
                    ],
                    "counts": dict(self.counts),
                    "missing": self.missing,
                },
                fh,
            )


# --------------------------------------------------------------- event log


@dataclass
class StageStats:
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0

    def add(self, other: "StageStats") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Job:
    id: int
    group: str | None
    submit_s: float  # epoch seconds
    end_s: float = 0.0
    stages: StageStats = field(default_factory=StageStats)


_ACC = {
    "internal.metrics.executorRunTime": ("run_ms", 1.0),
    "internal.metrics.executorCpuTime": ("cpu_ms", 1e-6),
    "internal.metrics.jvmGCTime": ("gc_ms", 1.0),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1.0),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1.0),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1.0),
}


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their completed stages' metrics, from every event log
    under ``log_dir`` (the session must be stopped first so the log is
    flushed)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_stats: dict[int, StageStats] = {}
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = Job(jid, props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3)
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_s = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = StageStats(stages=1, tasks=info.get("Number of Tasks", 0))
                    for acc in info.get("Accumulables", []):
                        spec = _ACC.get(acc.get("Name"))
                        if spec:
                            attr, scale = spec
                            setattr(st, attr, getattr(st, attr) + float(acc["Value"]) * scale)
                    stage_stats[info["Stage ID"]] = st
    for sid, st in stage_stats.items():
        jid = stage_job.get(sid)
        if jid in jobs:
            jobs[jid].stages.add(st)
    return sorted(jobs.values(), key=lambda j: j.id)


def jobs_for(jobs: list[Job], tracer: Tracer, span: Span) -> list[Job]:
    """Jobs caused by ``span``: those tagged with the job group of the
    span or of any span under it, plus untagged jobs (streaming queries
    run on their own threads) submitted while it was open."""
    groups = {s.group for s in [span, *tracer.descendants(span)] if s.group}
    lo, hi = tracer.epoch(span.start), tracer.epoch(span.end)
    return [
        j
        for j in jobs
        if j.group in groups or (j.group is None and lo <= j.submit_s <= hi)
    ]


# --------------------------------------------------------- Catalyst plans

PLAN_NODES = {
    "exchange": re.compile(r"(?:^|[\s:+-])(?:Broadcast)?Exchange\b", re.M),
    "sort": re.compile(r"(?:^|[\s:+-])Sort \[", re.M),
    "sort_aggregate": re.compile(r"(?:^|[\s:+-])SortAggregate\b", re.M),
    "bnlj": re.compile(r"(?:^|[\s:+-])BroadcastNestedLoopJoin\b", re.M),
    "python_eval": re.compile(r"(?:^|[\s:+-])(?:BatchEvalPython|ArrowEvalPython)\b", re.M),
}
PHASES = ("analysis", "optimization", "planning")


def phase_ms(qe, phases) -> dict[str, float]:
    """``{phase}_ms`` from a JVM ``QueryExecution``'s planning tracker."""
    got = qe.tracker().phases()
    return {f"{p}_ms": float(got.apply(p).durationMs()) if got.contains(p) else 0.0 for p in phases}


def plan_counts(text: str) -> dict[str, float]:
    """Operator counts in a physical plan string. Of an adaptive plan
    only the final plan is counted (AQE prints it before the initial
    one), so run-time rewrites show."""
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return {k: float(len(rx.findall(text))) for k, rx in PLAN_NODES.items()}


class SinkPlans:
    """Catalyst figures of the SQL executions a session finishes.

    A ``QueryExecutionListener`` (a py4j callback) receives each named
    execution (an action or a write) after it has ended, with the
    ``QueryExecution`` that ran it: its tracker holds that execution's
    own optimization and planning times and its executed plan is the
    one that ran, with AQE's final rewrites. Executions are only kept
    while :attr:`active`.
    """

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.active = False
        self.done: list = []  # JVM QueryExecutions, in the order they ended
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        if self.active:
            self.done.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def drain(self) -> list:
        """Every execution that ended so far (the listener bus delivers
        them asynchronously), forgetting them."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out, self.done = self.done, []
        return out
