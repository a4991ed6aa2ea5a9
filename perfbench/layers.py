"""Per-layer metrics of a traced phase.

Every workload reports the same names; a layer the workload does not
reach reports 0. Times are medians over the calls of that layer inside
measured ops unless the name says ``per_op`` (a mean over the phase's
ops) or the metric is a total over the phase.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench import stats
from perfbench.registry_heavy import QUERIES
from perfbench.trace import ancestors, attribute_jobs, catalyst_ms, self_times


def record_catalyst(phase) -> None:
    """Read each op's Catalyst time while the session is still up, and
    drop the frame."""
    for o in phase.ops:
        if o.df is not None:
            o.catalyst_ms = catalyst_ms(o.df)
            o.df = None

FACADE_KINDS = ("get_row", "multi_get", "scan", "count", "write")
READ_KINDS = ("get_row", "multi_get", "scan", "count")
FS_REPORTED = ("listdir", "exists", "isdir", "read_text", "write_text", "replace_text", "walk_files")
#: span that holds the build part of ops the facade builds and executes
#: in one call
_INNER_BUILD = {"scan": "facade.scan", "write": "writer.rows_to_cells"}


def metric_names(queries: tuple[str, ...] = QUERIES) -> list[str]:
    names = []
    for k in FACADE_KINDS:
        names += [f"table.{k}.build_ms", f"table.{k}.exec_ms"]
    names += [
        "store.read.build_ms", "store.read.jobs", "store.legs_per_read", "store.legs_max",
        "store.current_version.calls_per_op", "store.current_version.ms_per_op",
        "store.append.ms", "store.write.ms", "store.minor_compact.ms", "store.compact.ms",
        "store.vacuum.ms", "store.bytes_written", "store.files", "store.write_amp",
        "store.space_amp", "fs.calls_per_op",
    ]
    names += [f"fs.{m}.calls_per_op" for m in FS_REPORTED]
    names += ["writer.rows_to_cells.ms"]
    names += [f"operators.{k}.build_ms" for k in READ_KINDS]
    names += [
        "workers.tiered.ms", "workers.gc.ms", "workers.minor_cnt", "workers.major_cnt",
        "workers.rewritten_bytes", "workers.read_stall_ms",
        "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
        "spark.task_ms_per_op", "spark.catalyst_ms", "spark.shuffle_bytes_per_op",
        "spark.spill_bytes", "spark.gc_ms", "spark.unattributed_jobs",
    ]
    for q in queries:
        names += [f"registry.{q}.build_s", f"registry.{q}.exec_s", f"registry.{q}.build_jobs"]
    names += ["registry.build_share", "trace.overhead_pct", "trace.noise_pct"]
    return names


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_pct"):
        return "%"
    if name.endswith((".ms", "_ms")) or "ms_per_op" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("amp", "share")):
        return "ratio"
    return "count"


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def compute(phase, untraced, tracer, jobs, storage, read_stall_ms=0.0,
            queries=QUERIES) -> dict:
    """Per-layer metrics of the traced ``phase``. ``untraced`` holds the
    two phases run with tracing off just before and just after it, for
    the overhead figure; ``jobs`` comes from :func:`trace.parse_event_log`;
    ``storage`` from the workload."""
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    ops = [o for o in phase.ops if o.ok and o.span is not None]
    op_ids = {o.span.id for o in ops}
    n_ops = max(len(ops), 1)
    in_ops = [s for s in spans if s.op in op_ids]
    named = defaultdict(list)
    for s in in_ops:
        named[s.name].append(s)
    children = defaultdict(list)
    for s in in_ops:
        if s.parent is not None:
            children[s.parent].append(s)

    def dur_ms(ss):
        return [1000.0 * (s.end - s.start) for s in ss]

    def descendants_named(root, name):
        out, todo = [], list(children[root.id])
        while todo:
            s = todo.pop()
            if s.name == name:
                out.append(s)
            todo.extend(children[s.id])
        return out

    m = {name: 0.0 for name in metric_names(queries)}

    for k in FACADE_KINDS:
        builds, execs = [], []
        for o in ops:
            if o.kind != k:
                continue
            if k in _INNER_BUILD:
                b = sum(dur_ms(descendants_named(o.span, _INNER_BUILD[k])))
            else:
                b = 1000.0 * o.build_s
            builds.append(b)
            execs.append(1000.0 * o.total_s - b)
        m[f"table.{k}.build_ms"] = _median(builds)
        m[f"table.{k}.exec_ms"] = _median(execs)
    for k in READ_KINDS:
        per_op = [
            sum(dur_ms(descendants_named(o.span, f"operators.{k}")))
            for o in ops if o.kind == k
        ]
        m[f"operators.{k}.build_ms"] = _median(per_op)

    # jobs -> spans -> ops
    owner = attribute_jobs(jobs, spans)
    per_op_jobs = defaultdict(list)
    read_jobs = 0
    unattributed = 0
    t_lo = min((o.span.start for o in ops), default=0.0)
    t_hi = max((o.span.end for o in ops), default=0.0)
    for jid, sid in owner.items():
        chain = list(ancestors(sid, by_id)) if sid is not None else []
        op_span = next((s for s in chain if s.id in op_ids), None)
        if op_span is None:
            if sid is None and t_lo <= jobs[jid]["submit_ms"] / 1000.0 <= t_hi:
                unattributed += 1
            continue
        per_op_jobs[op_span.id].append(jobs[jid])
        if any(s.name == "store.read" for s in chain):
            read_jobs += 1
    all_jobs = [j for js in per_op_jobs.values() for j in js]
    m["spark.jobs_per_op"] = len(all_jobs) / n_ops
    m["spark.stages_per_op"] = sum(j["stages"] for j in all_jobs) / n_ops
    m["spark.tasks_per_op"] = sum(j["tasks"] for j in all_jobs) / n_ops
    m["spark.task_ms_per_op"] = sum(j["task_ms"] for j in all_jobs) / n_ops
    m["spark.shuffle_bytes_per_op"] = sum(j["shuffle_write"] for j in all_jobs) / n_ops
    m["spark.spill_bytes"] = float(sum(j["spill"] for j in all_jobs))
    m["spark.gc_ms"] = float(sum(j["gc_ms"] for j in all_jobs))
    m["spark.unattributed_jobs"] = float(unattributed)
    m["spark.catalyst_ms"] = _median(o.catalyst_ms for o in ops if o.catalyst_ms is not None)

    reads = named["store.read"]
    m["store.read.build_ms"] = _median(dur_ms(reads))
    m["store.read.jobs"] = read_jobs / len(reads) if reads else 0.0
    legs = tracer.observed.get("store.legs", [])
    m["store.legs_per_read"] = statistics.mean(legs) if legs else 0.0
    m["store.legs_max"] = float(max(legs)) if legs else 0.0
    cv = named["store.current_version"]
    m["store.current_version.calls_per_op"] = len(cv) / n_ops
    m["store.current_version.ms_per_op"] = sum(dur_ms(cv)) / n_ops
    # folds run between ops (the worker decides whether to fold), so
    # maintenance spans are taken from the whole phase, not only its ops
    in_phase = defaultdict(list)
    for s in spans:
        if t_lo <= s.start <= t_hi:
            in_phase[s.name].append(s)
    for name in ("append", "minor_compact", "compact", "vacuum"):
        m[f"store.{name}.ms"] = _median(dur_ms(in_phase[f"store.{name}"]))
    m["store.write.ms"] = _median(
        dur_ms(s for s in spans if s.name == "store.write" and s.op is None
               and any(a.name == "setup.bulk_load" for a in ancestors(s.parent, by_id)))
    )
    for key in ("bytes_written", "files", "write_amp", "space_amp"):
        m[f"store.{key}"] = float(storage.get(key, 0.0))

    fs_total = 0
    for op_id in op_ids:
        fs_total += sum(v for k, v in tracer.op_counts[op_id].items() if k.startswith("fs."))
    m["fs.calls_per_op"] = fs_total / n_ops
    for meth in FS_REPORTED:
        m[f"fs.{meth}.calls_per_op"] = sum(
            tracer.op_counts[op_id][f"fs.{meth}"] for op_id in op_ids) / n_ops

    m["writer.rows_to_cells.ms"] = _median(dur_ms(named["writer.rows_to_cells"]))
    tiered = phase.extra.get("tiered_ms", [])
    m["workers.tiered.ms"] = statistics.mean(tiered) if tiered else 0.0
    m["workers.gc.ms"] = _median(dur_ms(in_phase["workers.gc"]))
    m["workers.minor_cnt"] = float(phase.extra.get("minor_cnt", 0))
    m["workers.major_cnt"] = float(phase.extra.get("major_cnt", 0))
    m["workers.rewritten_bytes"] = float(phase.extra.get("rewritten_bytes", 0))
    m["workers.read_stall_ms"] = read_stall_ms

    builds = exec_total = 0.0
    for q in queries:
        qops = [o for o in ops if o.kind == q]
        if not qops:
            continue
        m[f"registry.{q}.build_s"] = _median(o.build_s for o in qops)
        m[f"registry.{q}.exec_s"] = _median(o.exec_s for o in qops)
        m[f"registry.{q}.build_jobs"] = _median(
            sum(1 for jid, sid in owner.items() if sid is not None and any(
                s.name == f"registry.{q}.build" and s.op == o.span.id
                for s in ancestors(sid, by_id)))
            for o in qops
        )
        builds += sum(o.build_s for o in qops)
        exec_total += sum(o.exec_s for o in qops)
    if builds + exec_total > 0:
        m["registry.build_share"] = builds / (builds + exec_total)

    m["trace.overhead_pct"], m["trace.noise_pct"] = overhead_pct(
        op_gmean(phase), [op_gmean(u) for u in untraced])
    return m


def overhead_pct(traced: float, untraced: list[float]) -> tuple[float, float]:
    """(overhead, noise) in percent: how much slower the traced phase ran
    than the mean of the untraced ones, and how far the untraced ones
    differ from each other. The overhead is reported as 0 unless it is
    above the noise."""
    base = statistics.mean(untraced)
    noise = 100.0 * (max(untraced) - min(untraced)) / base
    over = 100.0 * (traced / base - 1.0)
    return (over if over > noise else 0.0), noise


def self_ms_by_span(tracer, phase) -> dict[str, float]:
    """Span name -> total self time (ms) inside the phase's ops."""
    op_ids = {o.span.id for o in phase.ops if o.span is not None}
    selfs = self_times(tracer.spans)
    out: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        if s.op in op_ids:
            out[s.name] += 1000.0 * selfs[s.id]
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def op_gmean(phase) -> float:
    """Geometric mean over op kinds of each kind's median latency (s)."""
    by_kind = defaultdict(list)
    for o in phase.ops:
        if o.ok:
            by_kind[o.kind].append(o.total_s)
    return stats.gmean_of_medians(by_kind)
