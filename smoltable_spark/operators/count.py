"""Counts: A1 exact, A2 predicated, A3/A4 approximate.

Reference:
  A1 ``Smoltable::count``           smoltable/src/table/mod.rs:323-359
  A2 ``scan_count``                 mod.rs:361-451
  A3 ``approximate_cell_count``     mod.rs:299-306 (LSM segment metadata)
  A4 ``approximate_count`` (rows)   mod.rs:310-320 (cells / #families)

All compile to hash aggregates with map-side partial aggregation — the
plan Spark picks for ``count``/``countDistinct`` automatically. A4's
heuristic is replicated for parity; ``approx_count_distinct`` (HLL) is the
idiomatic upgrade and also exposed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from smoltable_spark.api import CountInput
from smoltable_spark.operators.filters import (
    column_filter_expr,
    row_prefix_expr,
    row_range_expr,
)


def count_exact(cells: DataFrame) -> DataFrame:
    """Exact (row_count, cell_count) for the whole table."""
    return cells.agg(
        F.countDistinct("row_key").alias("row_count"),
        F.count(F.lit(1)).alias("cell_count"),
    )


def scan_count(cells: DataFrame, inp: CountInput) -> DataFrame:
    """Count rows+cells matching a scan predicate without materializing rows."""
    out = cells
    if inp.prefix is not None:
        out = out.filter(row_prefix_expr(inp.prefix))
    if inp.range is not None:
        out = out.filter(row_range_expr(inp.range))
    if inp.column_filter is not None:
        out = out.filter(column_filter_expr(inp.column_filter))
    return out.agg(
        F.countDistinct("row_key").alias("row_count"),
        F.count(F.lit(1)).alias("cell_count"),
    )


def approximate_row_count(cells: DataFrame, family_count: int) -> DataFrame:
    """A4 parity heuristic: row_count ≈ cell_count / column_family_count.

    Deterministic (integer division like the reference), so it is
    oracle-checkable. ``family_count`` comes from the table catalog.
    """
    return cells.agg(
        (F.count(F.lit(1)) / F.lit(max(family_count, 1)))
        .cast("long")
        .alias("approx_row_count"),
        F.count(F.lit(1)).alias("cell_count"),
    )
