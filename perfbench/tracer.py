"""Outside-in layer tracing for the benchmark.

Spans are opened by wrappers that replace a package function *in the
namespace of the module that imported it* (``pipeline.run.tx_read``, not
``operators.txlog.tx_read``), so the package files stay untouched and only
the calls the caller actually makes are timed. Each span is kept in memory
as (id, name, start, end, parent, op id) and written out when the run ends.

Spark work is attributed to a span by job group: entering a span sets the
``spark.jobGroup.id`` local property to the span's id, leaving restores the
parent's, so every job started inside a span (AQE and broadcast jobs
inherit the property) carries the innermost open span's id. After each op
the status store is asked for those jobs and their stages; it answers with
``spark.ui.enabled=false``. Counters are exclusive, like self time: a job
counts for the innermost span open when it started.

Lazy DataFrame builders only plan: the Spark work they describe runs in
the span of the action that forces it, not in the builder's span.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import time
from dataclasses import dataclass, field

COUNTER_UNITS = {"calls": "count", "self_s": "s", "jobs": "count", "tasks": "count",
                 "shuffle_bytes": "B", "executor_run_s": "s", "gc_s": "s"}
_GROUP_PREFIX = "perfbench-span-"
_JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    child_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.child_s

    def as_dict(self) -> dict:
        return {**dataclasses.asdict(self), "self_s": self.self_s}


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def begin_op(self, op: int) -> None:
        pass

    def end_op(self) -> None:
        pass


@dataclass
class Tracer:
    """Span recorder bound to one SparkContext."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)
    _op: int = -1
    _op_first: int = 0
    _seen_stages: set[int] = field(default_factory=set)
    enabled = True

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self._op,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(_JOB_GROUP, f"{_GROUP_PREFIX}{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.end - s.start
            self.sc.setLocalProperty(
                _JOB_GROUP, f"{_GROUP_PREFIX}{parent.id}" if parent else None
            )

    def wrap(self, module, attr: str, name) -> None:
        """Replace `module.attr` with a spanned wrapper. `name` is the span
        name, or a callable (args, kwargs) -> span name."""
        orig = getattr(module, attr)
        self._patched.append((module, attr, orig))

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name(args, kwargs) if callable(name) else name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def begin_op(self, op: int) -> None:
        self._op = op
        self._op_first = len(self.spans)

    def end_op(self) -> None:
        """Attribute the finished op's Spark jobs to its spans. Runs between
        ops, outside the op's timed interval."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in self.spans[self._op_first:]:
            for job_id in tracker.getJobIdsForGroup(f"{_GROUP_PREFIX}{s.id}"):
                s.jobs += 1
                stage_ids = store.job(job_id).stageIds()
                for i in range(stage_ids.size()):
                    sid = stage_ids.apply(i)
                    if sid in self._seen_stages:
                        continue
                    self._seen_stages.add(sid)
                    sd = store.lastStageAttempt(sid)
                    s.tasks += sd.numCompleteTasks()
                    s.shuffle_bytes += sd.shuffleWriteBytes()
                    s.executor_run_s += sd.executorRunTime() / 1000.0
                    s.gc_s += sd.jvmGcTime() / 1000.0
        self._op = -1

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]
