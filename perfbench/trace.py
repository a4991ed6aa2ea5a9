"""Spans, layer wrappers and the Spark event-log parser of a traced run.

A traced run (``--trace 1``) records a span at each layer boundary the
benchmark can reach from outside the library: around its own calls, and
around the public functions of ``sources.store``, ``sources.writer`` and
the operator functions the table facade calls, which :func:`instrument`
wraps for the duration of the run. Nothing in ``smoltable_spark`` changes.

- Spans live in memory (:class:`Tracer`) and are written out at exit.
- Entering a span sets the Spark job group to the span id, so the event
  log ties every job to the innermost span that launched it.
- :func:`parse_event_log` turns the JSON event log into per-job records
  (stages, tasks, task time, shuffle, spill, GC).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

#: ``LocalStoreFS``/``HadoopStoreFS`` methods whose calls are counted
FS_METHODS = (
    "listdir", "exists", "isdir", "read_text", "write_text", "replace_text",
    "walk_files", "makedirs", "rmtree", "remove", "create_exclusive",
    "rename", "parquet_num_rows",
)
#: CellStore methods timed as spans: name -> span name
STORE_METHODS = {
    "read": "store.read",
    "current_version": "store.current_version",
    "append": "store.append",
    "write": "store.write",
    "compact": "store.compact",
    "minor_compact": "store.minor_compact",
    "vacuum": "store.vacuum",
}
#: operator functions as the facade module binds them: name -> span name
OPERATOR_FUNCTIONS = {
    "_get_row_op": "operators.get_row",
    "_multi_get_op": "operators.multi_get",
    "scan_rows": "operators.scan",
    "scan_count": "operators.count",
    "count_exact": "operators.count",
}
#: spans that never launch a job: timed, but the job group is not touched
_DRIVER_ONLY = {"store.current_version"}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job group
    follows the innermost open span; ``enabled=False`` makes every call a
    no-op, so untraced runs pay nothing."""

    sc: object = None
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    counts: Counter = field(default_factory=Counter)
    op_counts: dict = field(default_factory=lambda: defaultdict(Counter))
    observed: dict = field(default_factory=lambda: defaultdict(list))
    #: the frame the facade's ``scan`` built last, for ops that build and
    #: execute inside one library call
    last_frame: object = None
    _stack: list[Span] = field(default_factory=list)
    _op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, op: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans) + 1, name, parent.id if parent else None,
                 None, time.time())
        if op:
            self._op = s.id
        s.op = self._op
        self.spans.append(s)
        self._stack.append(s)
        sets_group = self.sc is not None and name not in _DRIVER_ONLY
        if sets_group:
            self.sc.setLocalProperty("spark.jobGroup.id", str(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if sets_group:
                self.sc.setLocalProperty(
                    "spark.jobGroup.id", str(self._stack[-1].id) if self._stack else None
                )
            if op:
                self._op = None

    def count(self, key: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[key] += n
            if self._op is not None:
                self.op_counts[self._op][key] += n

    def observe(self, key: str, value: float) -> None:
        if self.enabled:
            self.observed[key].append(value)

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time in seconds: its duration minus the part of
    that interval its children cover (children never overlap: one client
    thread)."""
    child_total: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_total[s.parent] += s.end - s.start
    return {s.id: (s.end - s.start) - child_total[s.id] for s in spans}


def _patch(undo: list, owner, name: str, wrapper) -> None:
    orig = getattr(owner, name)
    setattr(owner, name, functools.wraps(orig)(wrapper(orig)))
    undo.append(lambda: setattr(owner, name, orig))


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the library's layer entry points for the duration of the
    block: CellStore methods and the operator functions become spans,
    file-system adapter calls become counts, and the chain length each
    store read merges is observed as ``store.legs``."""
    from smoltable_spark import table as table_mod
    from smoltable_spark.sources import store_fs, writer
    from smoltable_spark.sources.store import CellStore

    undo: list = []

    def spanned(span_name):
        def wrap(orig):
            def w(*a, **k):
                with tracer.span(span_name):
                    return orig(*a, **k)
            return w
        return wrap

    def counted(key):
        def wrap(orig):
            def w(*a, **k):
                tracer.count(key)
                return orig(*a, **k)
            return w
        return wrap

    def frame_kept(orig):
        def w(*a, **k):
            with tracer.span("facade.scan"):
                tracer.last_frame = orig(*a, **k)
            return tracer.last_frame
        return w

    def legs_observed(orig):
        def w(self, legs):
            tracer.observe("store.legs", len(legs))
            return orig(self, legs)
        return w

    try:
        for name, span_name in STORE_METHODS.items():
            _patch(undo, CellStore, name, spanned(span_name))
        _patch(undo, CellStore, "_merge_legs", legs_observed)
        for cls in (store_fs.LocalStoreFS, store_fs.HadoopStoreFS):
            for m in FS_METHODS:
                _patch(undo, cls, m, counted(f"fs.{m}"))
        _patch(undo, writer, "rows_to_cells", spanned("writer.rows_to_cells"))
        _patch(undo, table_mod.Smoltable, "scan", frame_kept)
        for name, span_name in OPERATOR_FUNCTIONS.items():
            _patch(undo, table_mod, name, spanned(span_name))
        yield tracer
    finally:
        for u in reversed(undo):
            u()


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of the frame's query
    execution, from its ``QueryPlanningTracker`` (0.0 when the execution
    exposes none)."""
    try:
        jvm = df.sparkSession._jvm
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            df._jdf.queryExecution().tracker().phases()
        )
        return float(sum(phases[k].durationMs() for k in phases.keySet()))
    except Exception:  # noqa: BLE001 — an optional figure, never fatal
        return 0.0


def _new_stage() -> dict:
    return {"tasks": 0, "task_ms": 0, "gc_ms": 0, "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0}


def parse_event_log(lines) -> dict[int, dict]:
    """Per-job records from Spark JSON event-log lines: ``{job_id:
    {"group", "submit_ms", "stages", "tasks", "task_ms", "gc_ms",
    "shuffle_read", "shuffle_write", "spill"}}``. ``stages`` counts the
    stages that ran (skipped stages are listed by a job but never
    submitted); a stage's tasks count toward the first job listing it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(_new_stage)
    submitted: set[int] = set()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                         "submit_ms": ev.get("Submission Time", 0)}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageSubmitted":
            submitted.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            st = stages[ev["Stage ID"]]
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            st["tasks"] += 1
            st["task_ms"] += m.get("Executor Run Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for jid, job in jobs.items():
        job.update(_new_stage())
        job["stages"] = 0
    for sid, jid in stage_job.items():
        if jid not in jobs:
            continue
        if sid in submitted:
            jobs[jid]["stages"] += 1
        for k, v in stages.get(sid, {}).items():
            jobs[jid][k] += v
    return jobs


def attribute_jobs(jobs: dict[int, dict], spans: list[Span]) -> dict[int, int | None]:
    """Job id -> span id: the span named by the job's group, else the op
    span whose wall-clock window holds the job's submission (jobs started
    on threads the group does not reach, such as streaming triggers)."""
    by_id = {s.id: s for s in spans}
    ops = sorted((s for s in spans if s.op == s.id), key=lambda s: s.start)
    out: dict[int, int | None] = {}
    for jid, job in jobs.items():
        g = job.get("group")
        if g is not None and g.isdigit() and int(g) in by_id:
            out[jid] = int(g)
            continue
        t = job.get("submit_ms", 0) / 1000.0
        out[jid] = next((s.id for s in ops if s.start <= t <= s.end), None)
    return out


def ancestors(span_id: int | None, by_id: dict[int, Span]):
    """The span and every span enclosing it, innermost first."""
    while span_id is not None:
        s = by_id[span_id]
        yield s
        span_id = s.parent
