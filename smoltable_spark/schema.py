"""Canonical cell-table schema and the typed-value registry.

The reference models a table as a sparse sorted map
``(row_key, family, qualifier, timestamp) -> typed value``
(reference ``docs/src/content/docs/guides/wide-column-intro.md:6``) with a
7-variant ``Value`` enum (``smoltable/src/cell.rs:12-40``). Spark has no
union type, so a cell is one row of a *tall* DataFrame with a ``vtype`` tag
and exactly one non-null ``v_*`` column — the layout Catalyst/Tungsten
vectorize best (plain nullable primitive columns, no structs in the hot
path).

Timestamps: the reference uses u128 nanoseconds
(``smoltable/src/table/writer.rs:28-33``); we use LongType nanos (valid
until year 2262 — documented divergence, SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

# --- canonical cells schema (SURVEY §1.6, FIXTURES F0) ---------------------

CELLS_SCHEMA = T.StructType(
    [
        T.StructField("row_key", T.StringType(), False),
        T.StructField("family", T.StringType(), False),
        T.StructField("qualifier", T.StringType(), False),  # '' = default col
        T.StructField("ts", T.LongType(), False),  # nanos since epoch
        T.StructField("vtype", T.StringType(), False),
        T.StructField("v_str", T.StringType(), True),
        T.StructField("v_bool", T.BooleanType(), True),
        T.StructField("v_byte", T.ShortType(), True),  # u8 range 0..255
        T.StructField("v_i32", T.IntegerType(), True),
        T.StructField("v_i64", T.LongType(), True),
        T.StructField("v_f32", T.FloatType(), True),
        T.StructField("v_f64", T.DoubleType(), True),
    ]
)

#: vtype tag -> value column (mirrors the Value enum tags,
#: reference smoltable/src/cell.rs:43-76)
VTYPE_COLUMNS = {
    "string": "v_str",
    "boolean": "v_bool",
    "byte": "v_byte",
    "i32": "v_i32",
    "i64": "v_i64",
    "f32": "v_f32",
    "f64": "v_f64",
}

VALUE_COLUMNS = list(VTYPE_COLUMNS.values())

CELL_COLUMNS = [f.name for f in CELLS_SCHEMA.fields]

def cell_order():
    """Deterministic total cell order: row key asc, family asc, qualifier
    asc, timestamp DESC (newest first — the reference stores bitwise-negated
    ts so newest sorts first, smoltable/src/cell.rs:149-151,178-179).

    A function (not a constant) because Column construction needs an
    active SparkSession in classic PySpark.
    """
    return [
        F.col("row_key").asc(),
        F.col("family").asc(),
        F.col("qualifier").asc(),
        F.col("ts").desc(),
    ]


# --- placements: where a read's row-key steps run -------------------------
#
# A read resolves the chain's newest-wins step, the cell-limit windows and
# row assembly; each groups by the row key. A placement arranges the cells
# once so that every one of those steps runs where the placement put them.


def by_row_key(cells):
    """One hash exchange by row_key: it satisfies every row-key step's
    distribution, so none adds an exchange of its own. A store read is
    already placed this way (its newest-wins step runs behind it), and
    Spark then drops a second one as redundant."""
    return cells.repartition("row_key")


def one_partition(cells):
    """One partition, no exchange: it satisfies every distribution, a
    global sort's included. The placement of a read bounded by a literal
    key set, whose few matching cells are cheaper to resolve in one task
    than to shuffle (``CellStore._read_gathered``)."""
    return cells.coalesce(1)


def value_as_string():
    """Render the typed value as a display string (for golden tests)."""
    c = F
    return (
        c.when(F.col("vtype") == "string", F.col("v_str"))
        .when(F.col("vtype") == "boolean", F.col("v_bool").cast("string"))
        .when(F.col("vtype") == "byte", F.col("v_byte").cast("string"))
        .when(F.col("vtype") == "i32", F.col("v_i32").cast("string"))
        .when(F.col("vtype") == "i64", F.col("v_i64").cast("string"))
        .when(F.col("vtype") == "f32", F.col("v_f32").cast("string"))
        .when(F.col("vtype") == "f64", F.col("v_f64").cast("string"))
    )
