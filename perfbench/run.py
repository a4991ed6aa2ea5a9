"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest_compact --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``. Lines before it are a readable report, including the
workload's own figures (per-op p50s, write and maintenance times, storage
amplification). A full report (every figure, plus the spans of a traced
run) is written to ``.perfbench/reports/``. Everything else the run
creates lives in a per-run scratch directory under ``.perfbench/`` that
is removed at exit.

The input tables are the parquet files in ``perfbench/data``; the seed
picks the keys, the written values and the order of the ops.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

WORKLOADS = ("ingest_compact", "registry_heavy")
DATA_DIR = os.path.join(ROOT, "perfbench", "data")
DRIVER_MEM = "2g"
#: end-to-end metrics every workload reports: name -> unit
END_TO_END = {"setup_s": "s", "cpu_ms_per_op": "ms", "peak_rss_mb": "MB"}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _rss_mb(pid: int | str) -> float:
    """High-water resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _start_spark(workload: str, cpus: int, scratch: str, trace: bool):
    from smoltable_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} "
            f"-Dderby.system.home={os.path.join(scratch, 'derby')}"
        ),
    }
    if trace:
        os.makedirs(os.path.join(scratch, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(scratch, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(f"perfbench-{workload}", cpus=cpus, extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def _make_workload(name: str, ctx):
    if name == "ingest_compact":
        from perfbench.ingest_compact import IngestCompact
        return IngestCompact(ctx, DATA_DIR)
    from perfbench.registry_heavy import RegistryHeavy
    return RegistryHeavy(ctx, DATA_DIR)


def _by_kind(phase, scale: float = 1.0) -> dict[str, list[float]]:
    out = defaultdict(list)
    for o in phase.ops:
        if o.ok:
            out[o.kind].append(scale * o.total_s)
    return out


def _measure(w, seconds: float, salt: str, **kw):
    """One measured phase, with the share of machine CPU time the host
    withheld (steal) while it ran."""
    from perfbench.common import steal_share

    s0 = steal_share()
    phase = w.measure(seconds, salt, **kw)
    s1 = steal_share()
    phase.extra["steal_pct"] = 100.0 * (s1[0] - s0[0]) / max(1, s1[1] - s0[1])
    return phase


def end_to_end(phase, setup_s: float, peak_rss_mb: float) -> dict:
    from perfbench.layers import op_gmean

    ok = [o for o in phase.ops if o.ok]
    return {
        "setup_s": setup_s,
        "ops_per_s": len(ok) / sum(o.total_s for o in ok),
        "op_gmean_ms": 1000.0 * op_gmean(phase),
        "cpu_ms_per_op": 1000.0 * sum(o.cpu_s for o in ok) / len(ok),
        "peak_rss_mb": peak_rss_mb,
    }


def named_report(phase, storage: dict, e2e: dict, attempted: int, failed: int) -> dict:
    """The workload's readable figures: (value, note) pairs, ``None``
    where a figure does not apply to the workload."""
    by_kind = _by_kind(phase, 1000.0)

    def p50(kind):
        v = by_kind.get(kind)
        return (statistics.median(v), f"n={len(v)}") if v else None

    reads = [v for k in ("get_row", "multi_get", "scan", "count") for v in by_kind.get(k, [])]
    tail = stats.tail(reads)
    queries = {k: v for k, v in by_kind.items() if k.startswith(("rel_", "dedup_", "ann_", "stream_", "wc_"))}
    return {
        "setup_s": (e2e["setup_s"], None),
        "ops_per_s": (e2e["ops_per_s"], f"n={attempted}"),
        "op_gmean_ms": (e2e["op_gmean_ms"], f"{len(by_kind)} op kinds"),
        "cpu_ms_per_op": (e2e["cpu_ms_per_op"], None),
        "get_row_p50_ms": p50("get_row"),
        "multi_get_p50_ms": p50("multi_get"),
        "scan_p50_ms": p50("scan"),
        "count_p50_ms": p50("count"),
        # the highest percentile with at least ten reads beyond it
        "read_tail_ms": (tail[1], f"p{tail[0]:g} of {len(reads)}") if tail else (
            None, f"needs >= 40 reads, have {len(reads)}") if reads else None,
        "write_p50_ms": p50("write"),
        "maint_s": (phase.extra["maint_s"], None) if "maint_s" in phase.extra else None,
        "query_gmean_s": (stats.gmean_of_medians(queries) / 1000.0, f"{len(queries)} queries")
        if queries else None,
        "write_amp": (storage["write_amp"], None) if storage else None,
        "space_amp": (storage["space_amp"], None) if storage else None,
        "error_rate": (failed / attempted, f"n={attempted}"),
        "peak_rss_mb": (e2e["peak_rss_mb"], None),
    }


def main(argv=None) -> int:
    args = _parse(argv)
    # fail fast, before any scratch is made, when the program is absent
    import pyspark

    import smoltable_spark  # noqa: F401
    from perfbench import common, layers
    from perfbench.common import Context
    from perfbench.trace import Tracer, instrument, parse_event_log

    cpus = len(os.sched_getaffinity(0))
    bench_dir = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(bench_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        "SPARK_GRAFT_SCRATCH": tmp,
        "TMPDIR": tmp,
    })
    import tempfile
    tempfile.tempdir = tmp
    trace = bool(args.trace)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(args.workload, cpus, scratch, trace)
        session_s = time.perf_counter() - t0
        sc = spark.sparkContext
        common.CPU_PIDS.append(str(sc._gateway.proc.pid))
        print(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
              f"trace={args.trace} cpus={cpus} defaultParallelism={sc.defaultParallelism} "
              f"python={platform.python_version()} pyspark={pyspark.__version__} "
              f"driver_mem={DRIVER_MEM} data={os.path.relpath(DATA_DIR, ROOT)}", flush=True)

        tracer = Tracer(sc=sc, enabled=trace)
        ctx = Context(spark, args.seed, scratch, tracer)
        w = _make_workload(args.workload, ctx)

        if trace:
            # Untraced phases a and a2 bracket the traced phase b, all on a
            # warm session, so the overhead figure compares warm phases and
            # its noise is the a/a2 difference.
            with instrument(tracer):
                setup_s = session_s + w.setup()
            tracer.enabled = False
            if args.workload == "registry_heavy":
                # an unmeasured pass, so phase a is not the cold first pass;
                # ingest_compact's setup already ends with a warm-up cycle
                w.measure(0.0, "warm")
            untraced = [_measure(w, args.seconds, "a")]
            tracer.enabled = True
            tracer.observed.clear()  # legs seen while setting up
            # two periods of ingest_compact: chains grow and fold twice
            kw = {"min_periods": 2} if args.workload == "ingest_compact" else {}
            with instrument(tracer):
                phase = _measure(w, args.seconds, "b", **kw)
            tracer.enabled = False
            layers.record_catalyst(phase)
            untraced.append(_measure(w, args.seconds, "a2"))
            checked = untraced + [phase]
        else:
            setup_s = session_s + w.setup()
            phase = _measure(w, args.seconds, "a")
            checked = [phase]

        peak_rss = _rss_mb("self") + _rss_mb(sc._gateway.proc.pid)
        attempted = sum(len(p.ops) for p in checked)
        # a raised op leaves a failed check too (Phase.op), so checks count both
        failed = sum(1 for p in checked for _what, prob in p.checks if prob)
        _stop_spark(spark)
        spark = None

        base = untraced[0] if trace else phase
        e2e = end_to_end(base, setup_s, peak_rss)
        storage = getattr(w, "storage", {})
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "session_s": session_s,
            "setup_samples_s": getattr(w, "setup_samples", []),
            "end_to_end": e2e, "storage": storage,
            "named": named_report(base, storage, e2e, attempted, failed),
            "problems": [(what, p) for ph in checked for what, p in ph.checks if p][:20],
            "ops": [(o.kind, o.build_s, o.exec_s, o.ok) for o in base.ops],
        }
        if trace:
            logs = os.listdir(os.path.join(scratch, "eventlog"))
            with open(os.path.join(scratch, "eventlog", logs[0])) as fh:
                jobs = parse_event_log(fh)
            stall = 0.0
            if args.workload == "ingest_compact":
                from perfbench.ingest_compact import read_stall_ms
                stall = read_stall_ms(phase)
            per_layer = layers.compute(phase, untraced, tracer, jobs, storage, stall)
            report["per_layer"] = per_layer
            report["self_ms_by_span"] = layers.self_ms_by_span(tracer, phase)
            report["legs_series"] = tracer.observed.get("store.legs", [])
            report["spans"] = tracer.dump()
            report["jobs"] = jobs
            metrics = {k: {"value": v, "unit": layers.unit(k)} for k, v in per_layer.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        out_dir = os.path.join(bench_dir, "reports")
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(out, "w") as fh:
            json.dump(report, fh, indent=1, default=str)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    print(f"  setup samples (s): {', '.join(f'{s:.2f}' for s in report['setup_samples_s'])}"
          f"  session {session_s:.2f}  steal during the phase: "
          f"{base.extra['steal_pct']:.1f}%")
    for name, val in report["named"].items():
        if val is None:
            print(f"  {name:18s} n/a")
        elif val[0] is None:
            print(f"  {name:18s} n/a  ({val[1]})")
        else:
            value, note = val
            print(f"  {name:18s} {value:.6g}" + (f"  ({note})" if note is not None else ""))
    for what, p in report["problems"]:
        print(f"  PROBLEM {what}: {p}")
    if trace:
        top = list(report["self_ms_by_span"].items())[:8]
        print("  self time by span (ms): " + ", ".join(f"{k}={v:.0f}" for k, v in top))
        if args.workload == "ingest_compact":
            print(f"  legs per read, in order: {report['legs_series']}")
    print(f"  report: {os.path.relpath(out, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
