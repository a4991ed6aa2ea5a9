"""``ingest_compact``: writes, reads and maintenance against an orders-only
store (family ``o``, ``version_limit=2``).

Each cycle:

1. ``Smoltable.write`` a batch of 200 rows x 2 cells — mostly upserts of
   existing orders at a new, increasing timestamp, plus some new keys;
2. a read-your-write ``get_row`` of a key just written and, every second
   cycle, a prefix ``scan_count``;
3. ``tiered_compaction_worker(l0_threshold=3, minor_fanin=2)``;
4. after a major compaction, ``gc_worker`` and ``vacuum(keep_last=2)``
   (timed together as one ``gc`` op), then a ``multi_get`` of 32 keys and a prefix ``scan_collect`` (column
   filter, one version per column, 50 rows) on the freshly compacted
   one-leg store: the regime of a read-only server.

A period is the cycles from a compacted base through the next major fold
and its GC and vacuum: 6 writes, 2 minor folds, 1 major fold (the first
period after setup has one write fewer, as setup's warm-up write counts).
A phase runs whole periods until ``--seconds`` have passed (at least
``min_periods``), so every run measures the same op sequence. Reads meet
chains of 1 to 4 legs.
"""

from __future__ import annotations

import shutil
import statistics
import time

from perfbench import model
from perfbench.common import (
    Context, LegLedger, Phase, Timer, cpu_seconds, items_bytes, repeated_setup, rows_bytes,
)

BATCH_ROWS = 200
NEW_KEY_SHARE = 0.1
L0_THRESHOLD = 3
MINOR_FANIN = 2
VERSION_LIMIT = 2
KEEP_LAST = 2
MULTI_GET_KEYS = 32
SCAN_ROW_LIMIT = 50
SCAN_COLUMN = ("o", "totalprice")
#: a prefix ``scan_count`` follows every second write
COUNT_EVERY = 2


def prefix_of(key: str) -> str:
    """A prefix covering the 100 orders around ``key``."""
    return key[: len("order#") + 10]


class IngestCompact:
    def __init__(self, ctx: Context, data_dir: str):
        self.ctx = ctx
        self.data_dir = data_dir
        self.initial = model.orders_rows(data_dir)
        self.storage: dict = {}

    # -- setup --------------------------------------------------------------

    def _load(self, i: int):
        from smoltable_spark import ColumnFamilyDef, Smoltable
        from smoltable_spark.sources.relational import orders_cells

        spark = self.ctx.spark
        path = self.ctx.path(f"ingest{i}")
        table = Smoltable.open(spark, path)
        table.create_column_families([ColumnFamilyDef("o", version_limit=VERSION_LIMIT)])
        with self.ctx.tracer.span("setup.bulk_load"):
            table.store.write(orders_cells(spark, self.data_dir))
        self.table, self.path = table, path
        self.model = model.CellModel(self.initial)
        self.ledger = LegLedger(path)
        self.ledger.observe()
        self.user_written = rows_bytes(self.initial)
        self.ts = 1
        self.next_key = len(self.initial)
        self.writes = 0
        return path

    def setup(self) -> float:
        """Bulk-load the store three times (the last one is kept), then
        warm up with one cycle; returns the median load plus the warm-up."""
        paths = []

        def once(i):
            paths.append(self._load(i))

        median_s, self.setup_samples, _ = repeated_setup(once)
        for p in paths[:-1]:
            shutil.rmtree(p, ignore_errors=True)
        t0 = time.perf_counter()
        warm = Phase()
        self._cycle(warm, self.ctx.rng("warm"))
        if not all(o.ok for o in warm.ops):
            raise RuntimeError(f"warm-up failed: {warm.checks}")
        return median_s + time.perf_counter() - t0

    # -- one cycle ----------------------------------------------------------

    def _batch(self, rng) -> list[dict]:
        self.ts += 1
        keys = set()
        while len(keys) < BATCH_ROWS:
            if rng.random() < NEW_KEY_SHARE:
                keys.add(model.order_key(self.next_key))
                self.next_key += 1
            else:
                keys.add(model.order_key(rng.randrange(len(self.initial))))
        return [
            {"row_key": k, "cells": [
                {"column_key": "o:totalprice", "timestamp": self.ts,
                 "value": {"f64": round(rng.uniform(1000.0, 500_000.0), 2)}},
                {"column_key": "o:orderstatus", "timestamp": self.ts,
                 "value": {"string": rng.choice("FOP")}},
            ]}
            for k in sorted(keys)
        ]

    def _count_check(self, phase: Phase, what: str) -> None:
        """count() against the model — a Spark job, outside timed regions."""
        with self.ctx.tracer.span("check"):
            got = self.table.count().collect()[0]
        seen = (got["row_count"], got["cell_count"])
        want = self.model.count()
        phase.check(f"count after {what}", None if seen == want else f"{seen} != {want}")

    def _read(self, phase: Phase, kind: str, key: str, rng) -> None:
        """One timed read, checked against the model after the clock stops."""
        from smoltable_spark import ColumnFilter, CountInput, QueryRowInput, ScanInput

        tracer = self.ctx.tracer
        timer = Timer(tracer)
        rows = self.model.rows
        with phase.op(kind, tracer) as op:
            if kind == "get_row":
                with timer.build(op):
                    df = self.table.get_row(QueryRowInput(key))
                with timer.exec(op):
                    got = df.collect()
            elif kind == "multi_get":
                keys = rng.sample(sorted(rows), MULTI_GET_KEYS)
                with timer.build(op):
                    df = self.table.multi_get([QueryRowInput(k) for k in keys])
                with timer.exec(op):
                    got = df.collect()
            elif kind == "scan":
                inp = ScanInput(
                    prefix=prefix_of(key),
                    column_filter=ColumnFilter.key(":".join(SCAN_COLUMN)),
                    column_cell_limit=1,
                    row_limit=SCAN_ROW_LIMIT,
                )
                # scan_collect builds and executes in one call; the traced
                # run splits it at the facade's ``scan`` (see trace.py)
                with timer.exec(op):
                    got, _metrics = self.table.scan_collect(inp)
                df = tracer.last_frame
            else:
                with timer.build(op):
                    df = self.table.scan_count(CountInput(prefix=prefix_of(key)))
                with timer.exec(op):
                    got = df.collect()
            op.df = df
        if not op.ok:
            return
        if kind == "get_row":
            phase.check("read-your-write", model.diff_rows(
                {key: rows[key]}, model.rows_from_spark(got)))
        elif kind == "multi_get":
            phase.check("multi_get", model.diff_rows(
                {k: rows[k] for k in keys}, model.rows_from_spark(got)))
        elif kind == "scan":
            fam, qual = SCAN_COLUMN
            want = {
                k: model.project(rows[k], fam, qual, 1)
                for k in sorted(rows) if k.startswith(prefix_of(key))
            }
            want = dict(list(want.items())[:SCAN_ROW_LIMIT])
            phase.check("scan", model.diff_rows(want, model.rows_from_json(got)))
        else:
            seen = (got[0]["row_count"], got[0]["cell_count"])
            want = self.model.count(prefix_of(key))
            phase.check("scan_count", None if seen == want else f"{key}: {seen} != {want}")

    def _cycle(self, phase: Phase, rng) -> str | None:
        """One cycle; returns "major" when it ended a period."""
        from smoltable_spark.jobs.workers import gc_worker, tiered_compaction_worker

        tracer = self.ctx.tracer
        timer = Timer(tracer)
        items = self._batch(rng)
        with phase.op("write", tracer) as op:
            # Smoltable.write builds the batch frame and commits it in one
            # call; the traced run splits it at writer.rows_to_cells
            with timer.exec(op):
                self.table.write(items)
        self.model.write(items)
        self.user_written += items_bytes(items)
        self.ledger.observe()

        key = rng.choice(items)["row_key"]
        self._read(phase, "get_row", key, rng)
        self.writes += 1
        if self.writes % COUNT_EVERY == 0:
            self._read(phase, "count", key, rng)

        t0, cpu0 = time.perf_counter(), cpu_seconds()
        with tracer.span("workers.tiered"):
            res = tiered_compaction_worker(
                self.table.store, l0_threshold=L0_THRESHOLD, minor_fanin=MINOR_FANIN
            )
        tier_s, tier_cpu_s = time.perf_counter() - t0, cpu_seconds() - cpu0
        phase.extra["maint_s"] = phase.extra.get("maint_s", 0.0) + tier_s
        phase.extra.setdefault("tiered_ms", []).append(1000.0 * tier_s)
        if res is None:
            return None
        kind, _v = res
        # a fold is an op of its own: record it with the times measured above
        with phase.op(kind, tracer) as op:
            op.exec_s = tier_s
        op.cpu_s = tier_cpu_s
        phase.extra[f"{kind}_cnt"] = phase.extra.get(f"{kind}_cnt", 0) + 1
        rewritten = self.ledger.observe()
        phase.extra["rewritten_bytes"] = phase.extra.get("rewritten_bytes", 0) + rewritten
        phase.extra.setdefault("after_maint", []).append(len(phase.ops))
        self._count_check(phase, kind)
        if kind != "major":
            return None
        # GC and vacuum are one op: a vacuum alone takes milliseconds, too
        # little to time steadily as an op kind of its own. Vacuum drops
        # only superseded legs, so the LegLedger sees GC's new leg after it.
        with phase.op("gc", tracer) as op:
            with timer.exec(op, layer="workers"):
                with tracer.span("workers.gc"):
                    gc_worker(self.table.store)
                self.table.vacuum(keep_last=KEEP_LAST)
        phase.extra["maint_s"] += op.exec_s
        self.model.gc(VERSION_LIMIT)
        phase.extra["rewritten_bytes"] += self.ledger.observe()
        self._count_check(phase, "gc and vacuum")
        phase.extra.setdefault("after_maint", []).append(len(phase.ops))
        for kind in ("multi_get", "scan"):
            self._read(phase, kind, key, rng)
        return "major"

    # -- measured phase -----------------------------------------------------

    def measure(self, seconds: float, salt: str, min_periods: int = 1) -> Phase:
        rng = self.ctx.rng(f"ops:{salt}")
        phase = Phase()
        start = time.perf_counter()
        periods = 0
        while periods < min_periods or time.perf_counter() - start < seconds:
            if self._cycle(phase, rng) == "major":
                periods += 1
        phase.extra["periods"] = periods
        self._final_check(phase)
        self._storage()
        return phase

    def _final_check(self, phase: Phase) -> None:
        """Every live cell of the store against the model."""
        with self.ctx.tracer.span("check"):
            cells = self.table.store.read().collect()
        seen: dict[str, dict] = {}
        for c in cells:
            vcol = model._VCOL[c["vtype"]]
            seen.setdefault(c["row_key"], {}).setdefault((c["family"], c["qualifier"]), []).append(
                (c["ts"], c["vtype"], c[vcol]))
        for row in seen.values():
            for versions in row.values():
                versions.sort(key=lambda v: v[0], reverse=True)
        phase.check("store contents", model.diff_rows(self.model.rows, seen))

    def _storage(self) -> None:
        on_disk, files = self.ledger.on_disk()
        self.storage = {
            "bytes_written": self.ledger.bytes_written, "files": files,
            "write_amp": self.ledger.bytes_written / self.user_written,
            "space_amp": on_disk / rows_bytes(self.model.rows),
            "cells": sum(len(v) for r in self.model.rows.values() for v in r.values()),
        }


def read_stall_ms(phase: Phase) -> float:
    """Mean latency of the first ``get_row`` after each maintenance step,
    minus the median ``get_row`` latency (0.0 when no maintenance
    happened). Each cycle reads with ``get_row`` first."""
    reads = [o.total_s for o in phase.ops if o.kind == "get_row" and o.ok]
    firsts = []
    for idx in phase.extra.get("after_maint", []):
        nxt = next((o for o in phase.ops[idx:] if o.kind == "get_row" and o.ok), None)
        if nxt is not None:
            firsts.append(nxt.total_s)
    if not reads or not firsts:
        return 0.0
    return 1000.0 * (statistics.mean(firsts) - statistics.median(reads))
