"""Write path (S1): user row-items → canonical cells.

Reference ``TableWriter::write(&RowWriteItem)`` + REST ingest
(smoltable/src/table/writer.rs:35-79, server/src/api/write.rs:23-132):
each item is ``{row_key, cells: [{column_key, timestamp?, value}]}``;
a missing timestamp defaults to "now" in nanos (writer.rs:28-33); the
batch commits atomically.

Here a batch becomes a DataFrame in the canonical schema built from a
``pyarrow.Table``. A frame built from a list of dicts is a pickled
Python RDD, and handing it to the JVM re-serializes it through a
Python-worker ``map`` inside the commit's job: four worker tasks for a
400-cell batch, about 1 s of worker CPU. ``write_batch`` also keeps the
last write of each coordinate on the driver, so the commit through
``CellStore.append`` (single snapshot commit = the reference's single
fjall batch) runs no dedup shuffle.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from smoltable_spark.api import ColumnKey
from smoltable_spark.schema import CELLS_SCHEMA, VALUE_COLUMNS, VTYPE_COLUMNS


def _now_nanos() -> int:
    return time.time_ns()


def _cell_record(row_key: str, cell: dict, ts_default: int) -> tuple:
    """One write-item cell as a row in ``CELLS_SCHEMA`` column order;
    raises ``ValueError`` on a malformed column key or value."""
    ck = cell["column_key"]
    key = ColumnKey.parse(ck) if isinstance(ck, str) else ck
    qualifier = key.qualifier if key.qualifier is not None else ""
    (vtype, value), = cell["value"].items()
    if vtype not in VTYPE_COLUMNS:
        raise ValueError(f"unknown value type {vtype!r}")
    ts = cell.get("timestamp")
    values = [value if c == VTYPE_COLUMNS[vtype] else None for c in VALUE_COLUMNS]
    return (
        row_key, key.family, qualifier, int(ts_default if ts is None else ts),
        vtype, *values,
    )


def rows_to_cells(
    spark: SparkSession, items: list[dict], default_ts: int | None = None
) -> DataFrame:
    """Normalize write items to a cells DataFrame.

    Item shape (mirrors RowWriteItem / CellWriteItem JSON):
        {"row_key": "r", "cells": [
            {"column_key": "family:qualifier", "timestamp": 123,  # optional
             "value": {"string": "hello"}},  # exactly one typed variant
        ]}
    """
    ts_default = _now_nanos() if default_ts is None else default_ts
    recs = [
        _cell_record(item["row_key"], cell, ts_default)
        for item in items
        for cell in item["cells"]
    ]
    schema = to_arrow_schema(CELLS_SCHEMA)
    columns = list(zip(*recs)) or [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, schema)],
        schema=schema,
    )
    # a driver-built batch is one partition: one file per locality group
    return spark.createDataFrame(table, CELLS_SCHEMA).coalesce(1)


def write_batch(store, items: list[dict], default_ts: int | None = None) -> int:
    """Atomic batch write into a CellStore; returns the new version. A
    batch that writes one coordinate twice keeps the later cell, the
    store's in-batch rule (``CellStore.write``), decided here so the
    commit skips its dedup shuffle. Every cell is validated, kept or
    not."""
    ts_default = _now_nanos() if default_ts is None else default_ts
    last: dict[tuple, dict] = {}
    for item in items:
        for cell in item["cells"]:
            rec = _cell_record(item["row_key"], cell, ts_default)
            last[rec[:4]] = {"row_key": item["row_key"], "cells": [cell]}
    cells = rows_to_cells(store.spark, list(last.values()), default_ts=ts_default)
    return store.append(cells, assume_unique_coords=True)
