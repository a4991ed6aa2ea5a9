"""Write path (S1): user row-items → canonical cells.

Reference ``TableWriter::write(&RowWriteItem)`` + REST ingest
(smoltable/src/table/writer.rs:35-79, server/src/api/write.rs:23-132):
each item is ``{row_key, cells: [{column_key, timestamp?, value}]}``;
a missing timestamp defaults to "now" in nanos (writer.rs:28-33); the
batch commits atomically.

Here a batch becomes a DataFrame in the canonical schema via
``spark.createDataFrame`` on a list of dicts — a pickled Python RDD
(PySpark's Arrow path applies to pandas input only) — and commits
through ``CellStore.append`` (single snapshot commit = the reference's
single fjall batch).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from smoltable_spark.api import ColumnKey
from smoltable_spark.schema import CELLS_SCHEMA, VTYPE_COLUMNS


def _now_nanos() -> int:
    return time.time_ns()


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
    recs = []
    for item in items:
        row_key = item["row_key"]
        for cell in item["cells"]:
            ck = cell["column_key"]
            key = ColumnKey.parse(ck) if isinstance(ck, str) else ck
            qualifier = key.qualifier if key.qualifier is not None else ""
            (vtype, value), = cell["value"].items()
            if vtype not in VTYPE_COLUMNS:
                raise ValueError(f"unknown value type {vtype!r}")
            ts = cell.get("timestamp")
            rec = {
                "row_key": row_key,
                "family": key.family,
                "qualifier": qualifier,
                "ts": int(ts_default if ts is None else ts),
                "vtype": vtype,
                "v_str": None,
                "v_bool": None,
                "v_byte": None,
                "v_i32": None,
                "v_i64": None,
                "v_f32": None,
                "v_f64": None,
            }
            rec[VTYPE_COLUMNS[vtype]] = value
            recs.append(rec)
    return spark.createDataFrame(recs, CELLS_SCHEMA)


def write_batch(store, items: list[dict], default_ts: int | None = None) -> int:
    """Atomic batch write into a CellStore; returns the new version."""
    cells = rows_to_cells(store.spark, items, default_ts=default_ts)
    return store.append(cells)
