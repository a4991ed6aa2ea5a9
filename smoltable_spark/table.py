"""Smoltable — the user-facing table facade.

One object per table, tying the versioned CellStore to the operator
algebra with the same call surface the reference exposes
(``Smoltable::open / create_column_families / write / scan / get_row /
multi_get / delete_row / count / run_gc``, smoltable/src/table/mod.rs;
REST routes server/src/main.rs:135-144). A reference user's workflow maps
method-for-method:

    reference                          this engine
    ------------------------------     ---------------------------------
    Smoltable::open(name, keyspace)    Smoltable.open(spark, path)
    create_column_families(input)      create_column_families([...defs])
    writer.write(row) + finalize()     write([...row items])   (atomic)
    table.scan(input)                  scan(ScanInput(...))    → rows DF
    table.get_row(input)               get_row(QueryRowInput(...))
    table.multi_get(inputs)            multi_get([...inputs])
    table.delete_row(key, filter)      delete_row(key, filter)
    table.count() / scan_count         count() / scan_count(CountInput)
    run_version_gc / TTL GC            run_gc(now_nanos)
    (fjall compaction)                 compact() / vacuum()

Every query method returns a lazy DataFrame — materialization, caching,
and writeout stay the caller's choice, like any Spark API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from smoltable_spark.api import (
    ColumnFamilyDef,
    ColumnFilter,
    CountInput,
    QueryRowInput,
    ScanInput,
)
from smoltable_spark.jobs.workers import gc_worker
from smoltable_spark.operators import (
    count_exact,
    scan_cells,
    scan_count,
)
from smoltable_spark.operators.count import approximate_row_count
from smoltable_spark.operators.delete import delete_row as _delete_row_op
from smoltable_spark.operators.delete import deleted_cell_count
from smoltable_spark.operators.read import (
    get_row as _get_row_op,
    get_row_cells as _get_row_cells_op,
    multi_get as _multi_get_op,
)
from smoltable_spark.operators.scan import scan_rows
from smoltable_spark.sources.store import CellStore
from smoltable_spark.sources.writer import write_batch


class Smoltable:
    """A named wide-column table over a CellStore directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.store = CellStore(spark, path)

    # -- lifecycle (S6/S7/S9) ---------------------------------------------

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "Smoltable":
        """Open-or-create (reference Smoltable::open, mod.rs:107-165)."""
        return cls(spark, path)

    def create_column_families(self, defs: list[ColumnFamilyDef]) -> None:
        """Add families (+ locality-group assignment) to the manifest
        (reference mod.rs:260-297). Existing names are replaced."""
        current = {f.name: f for f in self.store.load_families()}
        for d in defs:
            current[d.name] = d
        self.store.save_families(list(current.values()))

    def column_families(self) -> list[ColumnFamilyDef]:
        return self.store.load_families()

    # -- ingest (S1) -------------------------------------------------------

    def write(self, items: list[dict], default_ts: int | None = None) -> int:
        """Atomic batch upsert; returns the committed snapshot version
        (reference TableWriter::write + finalize, writer.rs:35-79).
        Items: {"row_key": str, "cells": [{"column_key": "f:q",
        "value": {<type>: v}, "timestamp": ns?}]}."""
        return write_batch(self.store, items, default_ts=default_ts)

    # -- queries -----------------------------------------------------------

    def _cells(self, column_filter: ColumnFilter | None = None) -> DataFrame:
        return self.store.read_for_filter(column_filter).drop("lg")

    def scan(self, inp: ScanInput, observation=None) -> DataFrame:
        """Nested rows (reference Smoltable::scan, mod.rs:630-801)."""
        return scan_rows(self._cells(inp.column_filter), inp, observation)

    def scan_cells(self, inp: ScanInput, observation=None) -> DataFrame:
        """Flat matching cells (engine-native shape)."""
        return scan_cells(self._cells(inp.column_filter), inp, observation)

    def get_row(self, inp: QueryRowInput) -> DataFrame:
        """One nested row (reference mod.rs:824-882)."""
        return _get_row_op(self._cells(inp.column_filter), inp)

    def get_row_cells(self, inp: QueryRowInput) -> DataFrame:
        return _get_row_cells_op(self._cells(inp.column_filter), inp)

    def multi_get(self, inputs: list[QueryRowInput]) -> DataFrame:
        """Multi point-get (reference mod.rs:600-626)."""
        return _multi_get_op(self._cells(), inputs)

    def count(self) -> DataFrame:
        """Exact (row_count, cell_count) (reference mod.rs:323-359)."""
        return count_exact(self._cells())

    def scan_count(self, inp: CountInput) -> DataFrame:
        """Predicated count without materializing rows (mod.rs:361-451)."""
        return scan_count(self._cells(inp.column_filter), inp)

    def approximate_count(self) -> DataFrame:
        """Heuristic row count ≈ cells / #families (reference mod.rs:310-320)."""
        n_fams = max(len(self.store.load_families()), 1)
        return approximate_row_count(self._cells(), n_fams)

    def scan_collect(self, inp: ScanInput) -> tuple[list[dict], dict]:
        """Execute a scan and return (rows-in-JSON-shape, metrics) — the
        reference's response envelope (rows + cells/rows/bytes scanned +
        micros; server/src/response.rs:6-27, query/scan.rs:60-66).
        Metrics come from ``df.observe`` accumulators folded into the scan
        stage — zero extra passes."""
        import time as _time

        from pyspark.sql import Observation

        from smoltable_spark.operators.assemble import rows_to_json_shape

        obs = Observation()
        t0 = _time.time()
        rows = rows_to_json_shape(self.scan(inp, observation=obs))
        micros = int((_time.time() - t0) * 1_000_000)
        metrics = dict(obs.get)
        metrics["micros"] = micros
        metrics["micros_per_row"] = micros // max(len(rows), 1)
        return rows, metrics

    def explain_scan(self, inp: ScanInput) -> dict:
        """Plan audit for a scan: pushed filters, partition (locality
        group) pruning, shuffles, codegen spans — the observability the
        reference exposes as ``affected_locality_groups`` and friends,
        derived from the actual physical plan."""
        from smoltable_spark.plans.explain import audit

        return audit(self.scan_cells(inp))

    def export_jsonl(self, inp: ScanInput, path: str) -> None:
        """Distributed JSONL export of a scan in the reference's response
        row shape (docs/.../json-api/scan-rows.md:24-64): one JSON object
        per row, ``{"row_key": ..., "columns": {family: {qualifier:
        [{"time": ts, "value": {<type>: v}}]}}}`` — null value variants
        dropped by the JSON writer (ignoreNullFields). Round-trips with
        ``sources/jsonl.py`` write items via the nested shape."""
        from smoltable_spark.operators.assemble import rows_json_ready

        rows_json_ready(self.scan(inp)).write.mode("overwrite").option(
            "ignoreNullFields", "true"
        ).json(path)

    # -- mutations (D1-D4) -------------------------------------------------

    def delete_row(self, row_key: str, column_filter: ColumnFilter | None = None) -> int:
        """Delete a row's cells (optionally narrowed by a column filter);
        commits a new base snapshot and returns the deleted-cell count
        (reference mod.rs:567-598 — WITHOUT its locality-group bug: the
        reference deletes from the default tree only, mod.rs:591; here the
        rewrite covers every locality group)."""
        cells = self.store.read().drop("lg")
        deleted = deleted_cell_count(cells, row_key, column_filter).collect()[0][0]
        remaining = _delete_row_op(cells, row_key, column_filter)
        # a filter of read() keeps coordinates unique: skip the
        # newest-wins step
        self.store.write(remaining, assume_unique_coords=True)
        return int(deleted)

    def run_gc(self, now_nanos: int | None = None) -> int:
        """Version + TTL GC per family settings; commits a snapshot, returns
        deleted-cell count (reference run_version_gc, mod.rs:455-562).
        Short-circuits (no write) when no family defines retention. The
        GC background worker does the work (``jobs/workers.py::gc_worker``)
        — one GC path for the facade and the scheduler."""
        return gc_worker(self.store, now_nanos=now_nanos)

    # -- maintenance / stats (S8) -----------------------------------------

    def compact(self, num_range_partitions: int | None = None) -> int:
        return self.store.compact(num_range_partitions)

    def minor_compact(self) -> int:
        """Tiered L0 fold — O(changes), base untouched (store.minor_compact)."""
        return self.store.minor_compact()

    def vacuum(self, keep_last: int = 2) -> None:
        self.store.vacuum(keep_last)

    def approximate_cell_count(self) -> int:
        """Metadata-only cell count (reference mod.rs:299-306)."""
        return self.store.approximate_cell_count()

    def disk_space_usage(self) -> int:
        return self.store.disk_space_usage()

    def segment_count(self) -> int:
        return self.store.file_count()
