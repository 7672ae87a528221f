"""Spans around the calls into each engine layer, recorded from outside.

The tracer wraps public entry points of ``graphview_spark`` at run time
(nothing in the package changes) and records one span per call: name,
start, end, parent span and the operation it belongs to. Every span also
runs under its own Spark job group, so the jobs, stages and tasks a call
launched can be read back from ``statusTracker`` after the operation.
Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

import graphview_spark.matching.paths as paths_mod
import graphview_spark.matching.query as query_mod
import graphview_spark.sources.bulk as bulk_mod
from graphview_spark.graph import GraphDatabase

# (owner, attribute, span name). query.py binds parse_match_paths and
# plan_match by name at import, so they are wrapped where it looks them
# up; the planner imports var_length_paths from its module at call time.
PATCHES = [
    (GraphDatabase, "execute", "matching.query.execute"),
    (GraphDatabase, "execute_procedure", "matching.query.execute"),
    (query_mod, "parse_match_paths", "matching.pattern.parse"),
    (query_mod, "plan_match", "matching.planner.plan"),
    (paths_mod, "var_length_paths", "matching.paths.bfs"),
    (GraphDatabase, "out_degree", "graph.degree"),
    (GraphDatabase, "in_degree", "graph.degree"),
    (GraphDatabase, "checkpoint_tables", "graph.checkpoint"),
    (bulk_mod, "bulk_insert_nodes", "sources.bulk.nodes"),
    (bulk_mod, "bulk_insert_edges", "sources.bulk.edges"),
] + [
    (GraphDatabase, m, "graph.dml")
    for m in ("insert_nodes", "insert_nodes_df", "insert_edges_df",
              "delete_edges", "delete_nodes", "delete_nodes_df",
              "update_nodes", "update_nodes_from")
]


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    stages: int = 0
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        # children of one span run one after another on this thread
        return self.dur - sum(c.dur for c in self.children)


class Tracer:
    """Records spans while ``enabled``; a disabled tracer costs one
    attribute test per wrapped call."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._op: int | None = None
        self._undo: list[tuple] = []

    def bind(self, spark) -> None:
        """Use ``spark``'s context for job groups (None: no session)."""
        self._sc = None if spark is None else spark.sparkContext

    def install(self) -> None:
        for owner, attr, name in PATCHES:
            orig = getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, name))
            self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _wrap(self, fn, name):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"graphbench-{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, self._op,
                 name, time.perf_counter())
        self.spans.append(s)
        if parent:
            parent.children.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        self._op = op_id
        try:
            with self.span(f"op.{kind}") as s:
                yield s
        finally:
            self._op = None

    def count_jobs(self, root: Span) -> None:
        """Fill jobs/stages/tasks of ``root`` and its descendants (self
        counts: the jobs each span launched outside its children)."""
        st = self._sc.statusTracker()
        todo = [root]
        while todo:
            s = todo.pop()
            todo.extend(s.children)
            for jid in st.getJobIdsForGroup(f"graphbench-{s.id}"):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        s.stages += 1
                        s.tasks += stage.numTasks

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["children"] = [c.id for c in s.children]
                row["self"] = s.self_time
                f.write(json.dumps(row) + "\n")


def inclusive(span: Span, attr: str) -> int:
    """A job/stage/task count over a span and all its descendants."""
    return getattr(span, attr) + sum(inclusive(c, attr) for c in span.children)


def descendants(span: Span):
    for c in span.children:
        yield c
        yield from descendants(c)


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of a DataFrame's query,
    from Spark's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs()
    return float(total)


def scan_rows(df) -> int:
    """Rows produced by the leaf (scan) operators of the executed plan,
    read from their ``numOutputRows`` metrics; walks through adaptive
    query stages and reused exchanges."""
    todo, rows = [df._jdf.queryExecution().executedPlan()], 0
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(p.child())
            continue
        ch = p.children()
        if ch.size() == 0:
            m = p.metrics().get("numOutputRows")
            if m.isDefined():
                rows += m.get().value()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return rows


def plan_nodes(df) -> int:
    """Node count of a DataFrame's logical plan (one line per node)."""
    return df._jdf.queryExecution().logical().treeString().count("\n")
