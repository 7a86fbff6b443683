"""Traced runs: layer spans and counters recorded from outside the
package.

The tracer wraps, for the duration of a traced pass:

- the module attributes ``execute_sparql`` calls (``engine.parse_query``,
  ``engine.reorder_joins``, ``engine.compile_query``) and the public
  entry points the benchmark drives (``execute_sparql``,
  ``execute_update``, ``read_triples``, ``write_triples``,
  ``to_result_json``, ``bridge_ctx``);
- the DataFrame actions (``collect``, ``count``, ``localCheckpoint``,
  ``toArrow``, ``toPandas``) and parquet writes, as ``exec`` spans;
- ``py4j``'s ``ClientServerConnection.send_command``, counting round
  trips against the innermost open span.

After each op, outside its timed span, it adds Catalyst's analysis,
optimization and planning phases (``queryExecution().tracker()``) as
child spans, counts physical join and aggregate operators in each
executed plan, and reads the op's stage counters from the status store
through the op's job group. Spans stay in memory until ``write``.

A span's self time is its duration minus the time its children cover;
an op's own self time is what no layer accounts for.
"""

from __future__ import annotations

import functools
import json
import re
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field, fields, is_dataclass

import py4j.clientserver
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

_PHASES = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")
_PLAN_OP = re.compile(r"^[\s+:|-]*(?:\*\(\d+\)\s+)?([A-Za-z]+)", re.M)
PLAN_OPERATORS = {
    "plan.broadcast_joins": ("BroadcastHashJoin",),
    "plan.sort_merge_joins": ("SortMergeJoin",),
    "plan.shuffled_hash_joins": ("ShuffledHashJoin",),
    "plan.cartesian": ("CartesianProduct", "BroadcastNestedLoopJoin"),
    "plan.sort_aggregates": ("SortAggregate",),
}
# span name -> per-layer metric of its self time
SELF_TIME = {
    "sparql.parse": "sparql.parse_s",
    "optimize.rewrite": "optimize.rewrite_s",
    "compiler.build": "compiler.build_s",
    "engine.execute_sparql": "engine.execute_sparql_s",
    "catalyst.analysis": "catalyst.analysis_s",
    "catalyst.optimization": "catalyst.optimization_s",
    "catalyst.planning": "catalyst.planning_s",
    "exec": "exec.s",
    "results.serialize": "results.serialize_s",
    "update.execute_update": "update.execute_update_s",
    "rio.write": "rio.write_s",
    "rio.read": "rio.read_s",
    "bridge.build": "bridge.build_s",
}
_ACTIONS = ("collect", "count", "localCheckpoint", "toArrow", "toPandas")


@dataclass(eq=False)
class Span:
    name: str
    op: int
    parent: "Span | None"
    t0: float
    t1: float = 0.0
    py4j: int = 0
    children: list = field(default_factory=list)
    df: object = None  # the DataFrame an exec span ran

    def self_time(self) -> float:
        return (self.t1 - self.t0) - sum(c.t1 - c.t0 for c in self.children)


def _star_scans(node) -> int:
    """StarScan nodes in an algebra tree (walked generically over the
    dataclass fields, so it needs no list of node types)."""
    if type(node).__name__ == "StarScan":
        return 1
    if isinstance(node, (tuple, list)):
        return sum(_star_scans(x) for x in node)
    if is_dataclass(node) and not isinstance(node, type):
        return sum(_star_scans(getattr(node, f.name)) for f in fields(node))
    return 0


def plan_operator_counts(plan_text: str) -> Counter:
    """Join/aggregate operators of an executed plan; for an adaptive
    plan, only its final plan."""
    final = plan_text.split("== Initial Plan ==")[0]
    names = Counter(_PLAN_OP.findall(final))
    return Counter({m: sum(names[o] for o in ops) for m, ops in PLAN_OPERATORS.items()})


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.stack: list[Span] = []
        self.spans: list[Span] = []
        self.op = -1
        self.op_counts = Counter()
        self._patches = []
        # perf_counter seconds = JVM epoch seconds - offset
        self._offset = time.time() - time.perf_counter()

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        s = Span(name, self.op, self.stack[-1] if self.stack else None, time.perf_counter())
        if s.parent is not None:
            s.parent.children.append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self.stack.pop()
            self.spans.append(s)

    def _inside(self, name: str) -> bool:
        return any(s.name == name for s in self.stack)

    # -- patching ---------------------------------------------------------

    def _patch(self, owner, attr, wrapper_factory):
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(wrapper_factory(orig)))
        self._patches.append((owner, attr, orig))

    def _spanned(self, owner, attr, name, after=None):
        def factory(orig):
            def wrapper(*a, **kw):
                with self.span(name):
                    out = orig(*a, **kw)
                if after is not None:
                    after(out)
                return out
            return wrapper
        self._patch(owner, attr, factory)

    def _action(self, owner, attr, df_of):
        def factory(orig):
            def wrapper(obj, *a, **kw):
                if self._inside("exec"):
                    return orig(obj, *a, **kw)
                if attr == "localCheckpoint" and self._inside("update.execute_update"):
                    self.op_counts["update.checkpoints"] += 1
                with self.span("exec") as s:
                    s.df = df_of(obj)
                    return orig(obj, *a, **kw)
            return wrapper
        self._patch(owner, attr, factory)

    def install(self, sq, engine, bridge):
        self._spanned(engine, "parse_query", "sparql.parse")
        self._spanned(
            engine, "reorder_joins", "optimize.rewrite",
            after=lambda root: self.op_counts.update({"optimize.star_scans": _star_scans(root)}),
        )
        self._spanned(engine, "compile_query", "compiler.build")
        self._spanned(sq, "execute_sparql", "engine.execute_sparql")
        self._spanned(sq, "execute_update", "update.execute_update")
        self._spanned(sq, "read_triples", "rio.read")
        self._spanned(sq, "write_triples", "rio.write")
        self._spanned(sq, "to_result_json", "results.serialize")
        self._spanned(bridge, "bridge_ctx", "bridge.build")
        for attr in _ACTIONS:
            self._action(DataFrame, attr, lambda df: df)
        self._action(DataFrameWriter, "parquet", lambda w: w._df)

        def count_calls(orig):
            def wrapper(*a, **kw):
                if self.stack:
                    self.stack[-1].py4j += 1
                return orig(*a, **kw)
            return wrapper
        self._patch(py4j.clientserver.ClientServerConnection, "send_command", count_calls)

    def uninstall(self):
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- ops --------------------------------------------------------------

    def side_effects(self, session) -> tuple[set, dict]:
        """Ids of the pinned RDDs and the SQL conf of ``session``
        (outside any span)."""
        ids = self.sc._jsc.getPersistentRDDs().keySet().toString()  # "[3, 17]"
        return {int(x) for x in ids.strip("[]").split(",") if x.strip()}, dict(session.conf.getAll)

    @contextmanager
    def op_span(self, index: int, label: str):
        self.op = index
        self.op_counts = Counter()
        self.sc.setJobGroup(f"perfbench-op-{index}", label)
        with self.span("op") as s:
            yield s

    def finish_op(self, op: Span, result_rows: int) -> dict:
        """Per-op layer record; runs after the op's span has closed."""
        rec = Counter(self.op_counts)
        for s in self._descendants(op):
            if s.name == "exec" and s.df is not None:
                self._catalyst(op, s, rec)
                s.df = None
        self._stages(self.op, rec, result_rows)
        self._self_times(op, rec)
        return dict(rec)

    def _descendants(self, s: Span):
        for c in list(s.children):
            yield c
            yield from self._descendants(c)

    def _catalyst(self, op: Span, ex: Span, rec: Counter):
        qe = ex.df._jdf.queryExecution()
        for name, a, b in _PHASES.findall(qe.tracker().phases().toString()):
            t0 = int(a) / 1000 - self._offset
            t1 = int(b) / 1000 - self._offset
            mid = (t0 + t1) / 2
            if not op.t0 <= mid <= op.t1:
                continue  # phase ran before this op (plan reused)
            host = self._deepest(op, mid)
            child = Span(f"catalyst.{name}", self.op, host, max(t0, host.t0), min(t1, host.t1))
            host.children.append(child)
            self.spans.append(child)
        rec.update(plan_operator_counts(qe.executedPlan().toString()))

    def _deepest(self, s: Span, t: float) -> Span:
        for c in s.children:
            if c.t0 <= t <= c.t1 and not c.name.startswith("catalyst."):
                return self._deepest(c, t)
        return s

    def _stages(self, index: int, rec: Counter, result_rows: int):
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(f"perfbench-op-{index}")
        rec["exec.jobs"] += len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info is not None else []):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                rec["exec.stages"] += 1
                rec["exec.tasks"] += sd.numTasks()
                rec["exec.input_records"] += sd.inputRecords()
                rec["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                rec["exec.shuffle_records"] += sd.shuffleWriteRecords()
                rec["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                rec["exec.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                rec["exec.jvm_gc_ms"] += sd.jvmGcTime()
        rec["exec.rows_scanned_per_result"] = rec["exec.input_records"] / max(result_rows, 1)

    def _self_times(self, op: Span, rec: Counter):
        for s in self._descendants(op):
            metric = SELF_TIME.get(s.name)
            if metric is not None:
                rec[metric] += s.self_time()
            if s.name == "compiler.build":
                rec["compiler.py4j_calls"] += s.py4j
        rec["op_s"] = op.t1 - op.t0
        rec["unattributed_s"] = op.self_time()

    def write(self, path: str):
        ids = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "op": s.op, "name": s.name,
                    "parent": ids.get(id(s.parent)) if s.parent else None,
                    "t0": round(s.t0, 6), "t1": round(s.t1, 6),
                    "self_s": round(s.self_time(), 6), "py4j": s.py4j,
                }) + "\n")
