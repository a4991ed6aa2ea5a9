"""Distributed JSON wire-format ingest (S1's REST body, executor-side).

Reference ingest parses one HTTP JSON body per request on one server
(server/src/api/write.rs:23-132: ``{"items": [{row_key, cells:
[{column_key, timestamp?, value: {<type>: v}}]}]}``). ``rows_to_cells``
(sources/writer.py) mirrors that shape for driver-side Python lists;
this module is the 100 TB face of the same wire format: a DataFrame
COLUMN of raw JSON batch strings — a Kafka topic, a landing bucket of
request logs — parsed into canonical cells entirely with ``from_json``
+ ``explode`` (JVM-side, no Python in the row path), so ingest
parallelism is executor-count, not driver-bound.

Batch atomicity parity: the reference rejects a whole request on any
invalid cell (write.rs: 400 before any write). ``strict=True`` mirrors
that — one aggregate counts malformed rows (unparseable JSON, unknown
value variant, bad column-key charset) and raises before anything is
returned for commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from smoltable_spark.session import materialize

#: struct of every typed-value variant the reference's CellValue carries
#: (exactly one is non-null per cell, like the serde enum)
_VALUE_STRUCT = (
    "struct<string:string, boolean:boolean, byte:smallint, "
    "i32:int, i64:bigint, f32:float, f64:double>"
)

#: one wire batch: {"items": [{row_key, cells: [...]}]}
WIRE_SCHEMA = (
    "struct<items: array<struct<row_key:string, cells: array<struct<"
    f"column_key:string, timestamp:bigint, value:{_VALUE_STRUCT}>>>>>"
)

#: reference identifier rule (smoltable/src/column_key.rs:4-11):
#: [A-Za-z0-9-_.#$], len < 512; family non-empty, qualifier may be empty.
#: \A..\z anchors, NOT ^..$: Java regex $ matches before a trailing line
#: terminator, so "f\n" would pass a $-anchored charset check
_IDENT_SQL = r"\A[A-Za-z0-9\-_.#$]{1,511}\z"
_QUAL_SQL = r"\A[A-Za-z0-9\-_.#$]{0,511}\z"

_VTYPES = ("string", "boolean", "byte", "i32", "i64", "f32", "f64")
_VCOLS = {
    "string": "v_str",
    "boolean": "v_bool",
    "byte": "v_byte",
    "i32": "v_i32",
    "i64": "v_i64",
    "f32": "v_f32",
    "f64": "v_f64",
}


def cells_from_json_wire(
    batches: DataFrame,
    json_col: str = "body",
    default_ts: int | None = None,
    strict: bool = True,
) -> DataFrame:
    """Parse a column of wire-format JSON batch bodies into canonical
    cells: ``from_json`` → explode items → explode cells → column-key
    split + typed-variant dispatch, all JVM-side expressions.

    ``default_ts`` fills cells whose ``timestamp`` is absent (the
    reference defaults to now-nanos, writer.rs:28-33 — pass an explicit
    value for deterministic pipelines; None keeps the reference's
    wall-clock default via ``F.unix_micros(F.now()) * 1000`` evaluated
    once per batch plan).

    ``strict=True`` = reference 400 semantics: ONE aggregate counts
    malformed inputs (unparseable body, no/ambiguous value variant, bad
    identifier charset) and raises before returning — the whole batch
    is rejected, nothing partial commits.

    Known divergences from the reference's write path (ADVICE r6 — the
    parity claim is "whole-batch atomicity on malformed input", not
    byte-for-byte validator parity with server/src/api/write.rs):

    - **empty items array**: the reference returns 400 on ``items: []``
      (write.rs:31-33); this accepts it as a valid no-op batch — an
      empty micro-batch is routine in a distributed ingest and
      rejecting it would poison the stream;
    - **multi-colon column keys**: the reference's ``ColumnKey::try_from``
      accepts ``"a:b:c"`` (qualifier ``b``, third segment silently
      dropped) and never validates the qualifier charset; this rejects
      the whole batch for both — silent truncation is data loss at
      scale, so the stricter check is deliberate.
    """
    parsed = batches.select(
        F.from_json(F.col(json_col), WIRE_SCHEMA).alias("b")
    ).select(
        "b",
        # unparseable body ⟺ null struct/items; an EMPTY items array is a
        # valid (if pointless) batch and must NOT be flagged. Deriving
        # the flag from the already-parsed alias keeps from_json to ONE
        # evaluation per body.
        (F.col("b").isNull() | F.col("b.items").isNull()).alias(
            "_parse_fail"
        ),
    )
    rows = parsed.select(
        "_parse_fail", F.explode_outer(F.col("b.items")).alias("item")
    )
    cells = rows.select(
        "_parse_fail",
        F.col("item.row_key").alias("row_key"),
        F.explode_outer(F.col("item.cells")).alias("c"),
    )
    fam_split = F.split(F.col("c.column_key"), ":", 2)
    # the serde enum carries EXACTLY one variant; a hand-rolled body with
    # zero or several non-null variants is malformed (rows_to_cells, the
    # driver-side twin, raises on the same input)
    n_variants = sum(
        F.col(f"c.value.{t}").isNotNull().cast("int") for t in _VTYPES
    )
    vtype = F.coalesce(
        *[
            F.when(F.col(f"c.value.{t}").isNotNull(), F.lit(t))
            for t in _VTYPES
        ]
    )
    if default_ts is None:
        ts_default = F.unix_micros(F.now()) * 1000
    else:
        ts_default = F.lit(int(default_ts))
    has_cell = F.col("c").isNotNull()
    typed = cells.select(
        "_parse_fail",
        "row_key",
        F.get(fam_split, 0).alias("family"),
        F.coalesce(F.get(fam_split, 1), F.lit("")).alias("qualifier"),
        F.coalesce(F.col("c.timestamp"), ts_default).cast("long").alias("ts"),
        vtype.alias("vtype"),
        *[
            F.col(f"c.value.{t}").alias(col)
            for t, col in _VCOLS.items()
        ],
        # a row is malformed only if it CARRIES a cell that is wrong;
        # empty items/cells arrays explode to null rows and drop silently
        (
            has_cell
            & (
                F.col("c.column_key").isNull()
                | ~F.get(fam_split, 0).rlike(_IDENT_SQL)
                | ~F.coalesce(F.get(fam_split, 1), F.lit("")).rlike(
                    _QUAL_SQL
                )
                | (n_variants != 1)
                | F.col("row_key").isNull()
            )
        ).alias("_bad"),
        has_cell.alias("_has_cell"),
    )
    if strict:
        # reference 400 parity: whole batch rejected on any malformed
        # cell or unparseable body. The gate's count and the returned
        # frame both read the parsed cells: parse every body once.
        typed = materialize(typed, "corpus")
        bad = typed.filter(F.col("_bad") | F.col("_parse_fail")).count()
        if bad:
            raise ValueError(
                f"wire batch rejected: {bad} malformed cell(s)/body(ies)"
            )
    return typed.filter(F.col("_has_cell") & ~F.col("_bad")).drop(
        "_bad", "_has_cell", "_parse_fail"
    )
