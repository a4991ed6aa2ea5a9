"""Point reads: ``get_row`` (R1) and ``multi_get`` (R2).

Reference: ``Smoltable::get_row`` smoltable/src/table/mod.rs:824-882 via
``SingleRowReader`` (row_reader.rs:71-202); ``multi_get`` mod.rs:600-626.

A point read is a scan with an exact row-key predicate; on a cells table
sorted by row_key the pushed ``row_key = k`` filter skips every
non-matching row group — the DataFrame equivalent of the reference's LSM
prefix seek (row_reader.rs:122-126). ``multi_get`` uses ``isin`` for small
key lists (compiled to an In-filter, pushed down) or a broadcast semi-join
for large ones, instead of the reference's per-row loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from smoltable_spark.api import QueryRowInput, ScanInput
from smoltable_spark.operators.filters import column_filter_expr
from smoltable_spark.operators.scan import _apply_cell_limits
from smoltable_spark.operators.assemble import assemble_rows

#: above this many keys, use a join instead of an In-filter
_ISIN_THRESHOLD = 256


def get_row_cells(cells: DataFrame, inp: QueryRowInput) -> DataFrame:
    """Flat cells of one row under the column filter + cell limits.

    Limit order parity with get_row (mod.rs:839-868): per-column version
    limit first, then the whole-row cell budget counted in
    (family, qualifier, ts-desc) order.
    """
    out = cells.filter(F.col("row_key") == F.lit(inp.row_key))
    if inp.column_filter is not None:
        out = out.filter(column_filter_expr(inp.column_filter))
    scan_like = ScanInput(
        column_cell_limit=inp.column_cell_limit, row_cell_limit=inp.cell_limit
    )
    return _apply_cell_limits(out, scan_like)


def get_row(cells: DataFrame, inp: QueryRowInput, placement) -> DataFrame:
    """Nested single-row result (empty DataFrame when the row is absent),
    assembled under ``placement`` (see ``assemble_rows``)."""
    return assemble_rows(get_row_cells(cells, inp), placement)


def multi_get_cells(cells: DataFrame, inputs: list[QueryRowInput]) -> DataFrame:
    """Flat cells for a batch of point reads.

    Honors per-input filters/limits by unioning per-input pipelines when
    the inputs differ; uses the fast shared path (one In-filter) when all
    inputs share options — the common case (reference dashboard reads 720
    points per series with identical options, server/src/html.rs:11-196).
    """
    if not inputs:
        raise ValueError("multi_get requires at least one input")
    first = inputs[0]
    same_opts = all(
        (i.column_filter, i.cell_limit, i.column_cell_limit)
        == (first.column_filter, first.cell_limit, first.column_cell_limit)
        for i in inputs
    )
    if same_opts:
        keys = [i.row_key for i in inputs]
        if len(keys) <= _ISIN_THRESHOLD:
            out = cells.filter(F.col("row_key").isin(keys))
        else:
            spark = cells.sparkSession
            keys_df = spark.createDataFrame([(k,) for k in keys], "row_key STRING")
            out = cells.join(F.broadcast(keys_df.distinct()), "row_key", "left_semi")
        if first.column_filter is not None:
            out = out.filter(column_filter_expr(first.column_filter))
        scan_like = ScanInput(
            column_cell_limit=first.column_cell_limit, row_cell_limit=first.cell_limit
        )
        return _apply_cell_limits(out, scan_like)
    # heterogeneous options: per-input pipelines unioned (bounded by the
    # reference's own semantics — multi_get is a loop over get_row)
    parts = [get_row_cells(cells, i) for i in inputs]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def multi_get(cells: DataFrame, inputs: list[QueryRowInput], placement) -> DataFrame:
    """Nested rows for a batch of point reads, ordered by row key,
    assembled under ``placement`` (see ``assemble_rows``)."""
    return assemble_rows(multi_get_cells(cells, inputs), placement)
