"""Spans around the benchmark's calls into the library, with Spark job,
stage and task counts per span.

Every operation (one query, one batch, one commit-to-searchable cycle, one
set-up step) is an ``op``: its Spark jobs run under a job group of their
own and are counted through ``statusTracker()`` after the op returns, which
works with ``spark.ui.enabled=false``. With tracing on, each library call
inside the op is a child ``span`` with its own job group, so its jobs are
counted separately; spans stay in memory and are written out at the end.
With tracing off, ``span`` does nothing.

A span's self time is its duration minus its children's durations; an op's
own self time is the benchmark's bookkeeping, not a library layer.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    id: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0  # inclusive of child spans once the op closed
    stages: int = 0
    tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n_ops = 0

    def _open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self._n_ops, len(self.spans), parent.id if parent else None,
                  time.perf_counter() - self.t0)
        sp.group = f"perfbench-{sp.op}-{sp.id}"
        if parent:
            parent.children.append(sp.id)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter() - self.t0
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
        else:
            self.sc.setJobGroup("perfbench-idle", "between operations")

    def record(self, op_name: str, layer: str, start: float, end: float) -> None:
        """An op that ran before the tracer existed (the session start);
        ``start`` and ``end`` are ``time.perf_counter()`` readings."""
        self._n_ops += 1
        root = Span(op_name, self._n_ops, len(self.spans), None,
                    start - self.t0, end - self.t0)
        self.spans.append(root)
        if self.traced:
            child = Span(layer, root.op, len(self.spans), root.id, root.start, root.end)
            root.children.append(child.id)
            self.spans.append(child)

    @contextmanager
    def op(self, name: str):
        """A whole operation; yields its root span."""
        self._n_ops += 1
        sp = self._open(name)
        try:
            yield sp
        finally:
            self._close(sp)
            self._count(sp)

    @contextmanager
    def span(self, name: str):
        """One library call inside the current op (traced runs only)."""
        if not self.traced:
            yield None
            return
        sp = self._open(name)
        try:
            yield sp
        finally:
            self._close(sp)

    def _count(self, root: Span) -> None:
        """Jobs/stages/tasks per span of a closed op, children folded into
        their parents. Called right after the op: the tracker keeps only the
        most recent 1000 jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()

        def visit(sp: Span) -> None:
            for jid in st.getJobIdsForGroup(sp.group):
                info = st.getJobInfo(jid)
                sp.jobs += 1
                for sid in info.stageIds:
                    sp.stages += 1
                    stage = st.getStageInfo(sid)
                    sp.tasks += stage.numCompletedTasks if stage else 0
            for cid in sp.children:
                child = self.spans[cid]
                visit(child)
                sp.jobs += child.jobs
                sp.stages += child.stages
                sp.tasks += child.tasks

        visit(root)

    # ------------------------------------------------------------ reports

    def self_time(self, sp: Span) -> float:
        return sp.duration - sum(self.spans[c].duration for c in sp.children)

    def median(self, name: str, attr: str = "duration", since: int = 0,
               empty: float = float("nan")) -> float:
        """Median of ``attr`` over the spans called ``name`` (ops or
        layer calls), counting only spans recorded from index ``since``;
        ``empty`` when there are none."""
        vals = [getattr(s, attr) for s in self.spans[since:] if s.name == name]
        return statistics.median(vals) if vals else empty

    def self_time_table(self) -> dict[str, dict[str, float]]:
        """op name -> layer span name -> median self time per op; the
        op's own entry ("<op>") is the benchmark's bookkeeping."""
        by_op: dict[str, dict[str, list[float]]] = {}
        roots = [s for s in self.spans if s.parent is None]
        for root in roots:
            acc: dict[str, float] = {}
            todo = [root]
            while todo:
                sp = todo.pop()
                key = "<op>" if sp is root else sp.name
                acc[key] = acc.get(key, 0.0) + self.self_time(sp)
                todo.extend(self.spans[c] for c in sp.children)
            for k, v in acc.items():
                by_op.setdefault(root.name, {}).setdefault(k, []).append(v)
        return {op: {k: statistics.median(v) for k, v in layers.items()}
                for op, layers in by_op.items()}

    def layer_share(self) -> float:
        """Smallest share, over traced ops that contain library calls, of
        the op's wall time that its layer self-times account for."""
        shares = []
        for root in (s for s in self.spans if s.parent is None and s.children):
            shares.append(1.0 - self.self_time(root) / max(root.duration, 1e-9))
        return min(shares) if shares else 1.0

    def to_records(self) -> list[dict]:
        return [
            {"name": s.name, "op": s.op, "id": s.id, "parent": s.parent,
             "start": round(s.start, 6), "end": round(s.end, 6),
             "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks}
            for s in self.spans
        ]
