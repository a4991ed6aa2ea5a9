"""Pieces every workload shares: the run context, the op log, setup
repetition and storage accounting."""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time
from dataclasses import dataclass, field

from perfbench.trace import Tracer

#: setup is repeated this many times per run; setup_s reports the median
SETUP_REPEATS = 3
#: processes whose CPU time an op is charged: this one, plus the JVM once
#: the session is up
CPU_PIDS: list[str] = ["self"]
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """User plus system CPU time of every process in ``CPU_PIDS``. Unlike
    wall time it leaves out time the host gave to other guests (steal)."""
    total = 0
    for pid in CPU_PIDS:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total * _TICK_S


def steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine so far, from
    /proc/stat; the difference of two readings gives the share of CPU
    time the host withheld over that interval."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


@dataclass
class Op:
    kind: str
    build_s: float = 0.0
    exec_s: float = 0.0
    #: CPU seconds of the driver and the JVM while the op ran
    cpu_s: float = 0.0
    ok: bool = True
    span: object = None
    #: the frame the op executed, kept for the traced run's Catalyst figure
    df: object = None
    #: what the op's result is checked against after the phase
    expect: object = None
    catalyst_ms: float | None = None

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Phase:
    """One measured phase: its ops in order plus the facts checked after
    it. ``checks`` holds (description, problem-or-None) pairs."""

    ops: list[Op] = field(default_factory=list)
    checks: list[tuple[str, str | None]] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @contextlib.contextmanager
    def op(self, kind: str, tracer: Tracer):
        """Time one op; an exception marks it failed and is swallowed (it
        counts in ``failed``), so one bad op does not end the run."""
        o = Op(kind)
        self.ops.append(o)
        cpu0 = cpu_seconds()
        with tracer.span(f"op.{kind}", op=True) as s:
            o.span = s
            try:
                yield o
            except Exception as e:  # noqa: BLE001 — counted, reported, run goes on
                o.ok = False
                self.checks.append((f"{kind} raised", f"{type(e).__name__}: {e}"[:300]))
            finally:
                o.cpu_s = cpu_seconds() - cpu0

    def check(self, what: str, problems: list[str] | str | None) -> None:
        if isinstance(problems, list):
            problems = "; ".join(problems) or None
        self.checks.append((what, problems))


class Timer:
    """``with timer.build(op): ...`` / ``with timer.exec(op): ...`` add
    the block's wall time to the op and open the matching span."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    @contextlib.contextmanager
    def _part(self, op: Op, attr: str, name: str):
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                yield
        finally:
            setattr(op, attr, getattr(op, attr) + time.perf_counter() - t0)

    def build(self, op: Op, layer: str = "table"):
        return self._part(op, "build_s", f"{layer}.{op.kind}.build")

    def exec(self, op: Op, layer: str = "table"):
        return self._part(op, "exec_s", f"{layer}.{op.kind}.exec")


@dataclass
class Context:
    spark: object
    seed: int
    scratch: str
    tracer: Tracer

    def rng(self, salt: str) -> random.Random:
        return random.Random(f"{self.seed}:{salt}")

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)


def repeated_setup(fn, repeats: int = SETUP_REPEATS):
    """Run ``fn(i)`` ``repeats`` times; returns (median seconds, all
    samples, the last result). Each call builds a fresh instance."""
    samples, result = [], None
    for i in range(repeats):
        t0 = time.perf_counter()
        result = fn(i)
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples), samples, result


# -- storage accounting -----------------------------------------------------

_VALUE_BYTES = {"boolean": 1, "byte": 1, "i32": 4, "i64": 8, "f32": 4, "f64": 8}


def cell_bytes(row_key: str, family: str, qualifier: str, vtype: str, value) -> int:
    """User bytes of one cell by the engine's scan-metrics formula
    (``operators/scan.py::_cell_bytes``): key coordinates, an 8-byte ts,
    a 1-byte type tag and the value payload."""
    payload = len(value.encode()) if vtype == "string" else _VALUE_BYTES[vtype]
    return len(row_key.encode()) + len(family.encode()) + len(qualifier.encode()) + 9 + payload


def rows_bytes(rows: dict[str, dict]) -> int:
    """User bytes of every cell version in a model row map."""
    return sum(
        cell_bytes(key, fam, qual, vtype, value)
        for key, row in rows.items()
        for (fam, qual), versions in row.items()
        for _ts, vtype, value in versions
    )


def items_bytes(items: list[dict]) -> int:
    """User bytes of write items (the ``Smoltable.write`` shape)."""
    total = 0
    for item in items:
        for cell in item["cells"]:
            fam, qual = cell["column_key"].split(":", 1)
            (vtype, value), = cell["value"].items()
            total += cell_bytes(item["row_key"], fam, qual, vtype, value)
    return total


def _leg_dirs(store_path: str):
    for name in os.listdir(store_path):
        full = os.path.join(store_path, name)
        if (name.startswith("v=") or name.startswith(".v=")) and os.path.isdir(full):
            yield name, full


def dir_files(path: str) -> tuple[int, int]:
    """(parquet bytes, parquet files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class LegLedger:
    """Parquet bytes a store has written, found by walking its directory:
    legs are immutable once committed, so each leg directory seen for the
    first time adds its bytes once. Call :meth:`observe` after every
    commit and before any vacuum."""

    def __init__(self, store_path: str):
        self.path = store_path
        self.seen: set[str] = set()
        self.bytes_written = 0

    def observe(self) -> int:
        """Record legs not seen before; returns the bytes they add."""
        added = 0
        for name, full in _leg_dirs(self.path):
            if name not in self.seen:
                self.seen.add(name)
                added += dir_files(full)[0]
        self.bytes_written += added
        return added

    def on_disk(self) -> tuple[int, int]:
        """(bytes, files) of every parquet file now under the store."""
        return dir_files(self.path)
