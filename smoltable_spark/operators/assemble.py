"""Nested row assembly — flat cells → the reference's user-facing row shape.

Reference result shape (smoltable/src/row.rs:5-9, cell JSON at
smoltable/src/cell.rs:270-277, docs/.../json-api/scan-rows.md:24-64):

    Row { row_key, columns: Map<family, Map<qualifier, Vec<Cell>>> }
    Cell { time, type, value }   -- versions newest-first

Spark shape:

    row_key STRING,
    columns MAP<STRING, MAP<STRING, ARRAY<STRUCT<
        time: LONG, vtype: STRING,
        v_str ... v_f64  (typed value, exactly one non-null)>>>>

Built entirely from groupBy + collect_list + map_from_entries, all
JVM-side, under the caller's placement: one shuffle by row_key, or none
for cells a key-bounded read gathered in one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from smoltable_spark.schema import VALUE_COLUMNS


def assemble_rows(cells: DataFrame, placement, descending: bool = False) -> DataFrame:
    """Nest flat cells into rows; output ordered by row_key.
    ``placement``: ``schema.by_row_key``, or ``schema.one_partition``
    for cells already in one partition (``CellStore._read_gathered``)."""
    cell_struct = F.struct(
        F.col("ts").alias("time"),
        F.col("vtype"),
        *[F.col(c) for c in VALUE_COLUMNS],
    )
    # ONE exchange for all three nesting levels: hash-partitioning by
    # row_key satisfies the ClusteredDistribution of every groupBy below
    # (each groups by a superset of {row_key}), so Catalyst inserts no
    # further shuffles — without it the pipeline exchanged 3 times
    # (by (row,fam,qual), (row,fam), (row)), tripling shuffle bytes of
    # the user-facing nested scan at scale. One partition satisfies
    # every distribution, the final sort's included.
    cells = placement(cells)
    # per (row, family, qualifier): version list, newest first.
    # sort_array on struct sorts by first field (time) asc → reverse.
    per_column = (
        cells.groupBy("row_key", "family", "qualifier")
        .agg(F.reverse(F.sort_array(F.collect_list(cell_struct))).alias("cells"))
    )
    # map entries are unordered semantically (consumers sort keys), and
    # sort_array cannot order structs containing maps — collect unsorted.
    per_family = (
        per_column.groupBy("row_key", "family")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("qualifier"), F.col("cells")))
            ).alias("qmap")
        )
    )
    rows = (
        per_family.groupBy("row_key")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("family"), F.col("qmap")))
            ).alias("columns")
        )
        .orderBy(F.col("row_key").desc() if descending else F.col("row_key").asc())
    )
    return rows


def rows_json_ready(rows_df: DataFrame) -> DataFrame:
    """Rewrite assembled rows' cell structs into the reference's JSON cell
    shape — ``{time, value: {<variant>: v}}`` with exactly one non-null
    variant — so a plain ``df.write.json(..., ignoreNullFields)`` emits
    byte-shape parity with the REST response (scan-rows.md:24-64).
    Distributed (nested ``transform_values``); the driver-side
    ``rows_to_json_shape`` remains the test-only golden collector.
    """
    from smoltable_spark.schema import VTYPE_COLUMNS

    def reshape_cell(c):
        value = F.struct(
            *[c.getField(vcol).alias(tag) for tag, vcol in VTYPE_COLUMNS.items()]
        )
        return F.struct(c.getField("time").alias("time"), value.alias("value"))

    reshaped = F.transform_values(
        F.col("columns"),
        lambda _fam, qmap: F.transform_values(
            qmap, lambda _q, cells: F.transform(cells, reshape_cell)
        ),
    )
    return rows_df.select("row_key", reshaped.alias("columns"))


def rows_to_json_shape(rows_df: DataFrame) -> list[dict]:
    """Collect assembled rows into the reference's JSON golden shape.

    For tests only (drives golden comparisons à la
    smoltable/tests/scan_range_simple.rs:86-120) — never in the hot path.
    """
    out = []
    for r in rows_df.collect():
        cols: dict = {}
        for fam, qmap in sorted(r["columns"].items()):
            fam_out = cols.setdefault(fam, {})
            for qual, cells in sorted(qmap.items()):
                fam_out[qual] = [_cell_json(c) for c in cells]
        out.append({"row_key": r["row_key"], "columns": cols})
    return out


def _cell_json(c) -> dict:
    vtype = c["vtype"]
    col = {
        "string": "v_str",
        "boolean": "v_bool",
        "byte": "v_byte",
        "i32": "v_i32",
        "i64": "v_i64",
        "f32": "v_f32",
        "f64": "v_f64",
    }[vtype]
    return {"time": c["time"], "value": {vtype: c[col]}}
