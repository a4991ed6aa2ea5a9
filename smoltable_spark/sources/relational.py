"""Loaders for the driver's relational testdata + wide-column melt (F8).

``/root/testdata/sf*/`` holds TPC-H-ish parquet (TESTDATA.md). Two roles:

1. plain loaders (``load_table``) for the relational analytics queries and
   the training-data extensions;
2. melt loaders that re-shape relational rows into the canonical cells
   schema so the wide-column operators run against real data at scale
   (FIXTURES.md F8):
   - ``orders``  → row_key ``order#<zero-padded key>``, family ``o``,
     qualifier = column name (zero-padded keys preserve lexicographic ≡
     numeric order, reference docs/.../wide-column-intro.md:184);
   - ``lineitem`` → row_key ``order#<okey>#<linenumber>`` for drill-down
     prefix scans per order;
   - ``events``   → timeseries cells: row_key = series id
     (``<event_type>#user#<uid>``), multi-version on ts — mirrors the
     reference's metrics tables (server/src/metrics.rs:39-45).

The melt is a ``stack`` projection — narrow, no shuffle, fully pipelined
with the parquet scan. The driver's testdata has shipped ``events.ts``
as both raw INT64 nanos and TIMESTAMP(MICROS) across rounds; the engine
contract is invariant — ``normalize_event_ts`` re-expresses whatever is
on disk as a raw epoch-nanos LongType (µs precision, the common
denominator both engines read exactly), so every downstream operator and
every DuckDB oracle (``epoch_ns(ts)``) sees identical integers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # raw epoch nanos (see module docstring)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """``events.ts`` → raw epoch-nanos LongType, whatever the on-disk type.

    TIMESTAMP (ltz or ntz; session TZ is pinned to UTC in session.py so the
    ntz→ltz cast is the identity) → ``unix_micros * 1000``: exact integer
    nanos at µs precision, matching DuckDB's ``epoch_ns(ts)`` bit-for-bit.
    An already-long column (raw-nanos testdata, streaming fixtures) passes
    through unchanged. Pure projection — pipelined with the scan.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype and dtype.startswith("timestamp"):
        ns = F.unix_micros(F.col("ts").cast("timestamp")) * 1000
        return df.withColumn("ts", ns.cast("long"))
    return df.withColumn("ts", F.col("ts").cast("long"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Parquet TIMESTAMP(NANOS) is refused by Spark's schema converter
        # ("Illegal Parquet type: INT64 (TIMESTAMP(NANOS,...))"), and the
        # driver's testdata has shipped that encoding before — fall back to
        # the explicit LongType schema, which reads the physical INT64 as
        # raw epoch nanos directly (the old raw-INT64 path this schema
        # existed for; round-3 advice).
        try:
            df = spark.read.parquet(path)
            df.schema  # force footer-schema resolution now, not at action
        except Exception as e:  # noqa: BLE001 — message sniff, then re-raise
            msg = str(e)
            if "NANOS" not in msg.upper():
                raise
            df = spark.read.schema(_EVENTS_SCHEMA).parquet(path)
        return normalize_event_ts(df)
    return spark.read.parquet(path)


_VCOLS = ["v_str", "v_bool", "v_byte", "v_i32", "v_i64", "v_f32", "v_f64"]
_VTYPES = {
    "v_str": ("string", "string"),
    "v_bool": ("boolean", "boolean"),
    "v_byte": ("byte", "short"),
    "v_i32": ("i32", "int"),
    "v_i64": ("i64", "long"),
    "v_f32": ("f32", "float"),
    "v_f64": ("f64", "double"),
}


def _cell_projection(
    row_key, family: str, qualifier: str, ts, vcol: str, value
):
    """One melted column → cells-schema projection list."""
    vtype, _ = _VTYPES[vcol]
    cols = [
        row_key.alias("row_key"),
        F.lit(family).alias("family"),
        F.lit(qualifier).alias("qualifier"),
        ts.cast("long").alias("ts"),
        F.lit(vtype).alias("vtype"),
    ]
    for c in _VCOLS:
        _, dtype = _VTYPES[c]
        cols.append(
            (value.cast(dtype) if c == vcol else F.lit(None).cast(dtype)).alias(c)
        )
    return cols


def melt(
    df: DataFrame,
    row_key,
    family: str,
    columns: dict[str, tuple[str, object]],
    ts=None,
) -> DataFrame:
    """Melt wide relational rows into tall cells.

    ``columns`` maps qualifier → (v_column, source Column). Implemented as
    a union of narrow projections over the same scan; Catalyst collapses
    them into one pass (each branch is a project over the shared relation,
    and the parquet scan is read once per branch but prunes to only the
    needed columns — at 100 TB prefer the native cells layout written by
    CellStore; the melt is the loader path).
    """
    if ts is None:
        ts = F.lit(0)
    parts = []
    for qual, (vcol, src) in columns.items():
        parts.append(
            df.select(*_cell_projection(row_key, family, qual, ts, vcol, src))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pad(col, width: int = 12):
    return F.lpad(col.cast("string"), width, "0")


class PaddedIntKeyCodec:
    """Inverse of the ``<prefix><zero-padded int>[<suffix>]`` row-key encoding:
    transposes row-key string predicates into numeric bounds on the source
    key column.

    Why: the melt computes ``row_key`` with concat/lpad, so Catalyst cannot
    push a row-key prefix/range to the parquet scan — the reference's
    seek-to-prefix (reader.rs:46-78) would be lost on melted sources. The
    codec derives a *superset* range on the underlying integer key (the
    padding preserves order, docs/.../wide-column-intro.md:184), which IS
    pushdown-able and prunes files/row-groups; the exact string predicate
    still runs as a residual filter after the melt. Superset + residual =
    always correct, and the scan skips everything outside the bounds.
    """

    def __init__(self, prefix: str, width: int = 12):
        self.prefix = prefix
        self.width = width

    def _max_key(self) -> int:
        return 10**self.width - 1

    def _digit_run(self, s: str) -> str:
        """Leading digit run of s, capped at the padded width."""
        out = []
        for ch in s[: self.width]:
            if not ch.isdigit():
                break
            out.append(ch)
        return "".join(out)

    EMPTY = (1, 0)

    def prefix_bounds(self, key_prefix: str) -> tuple[int, int] | None:
        """Numeric [lo, hi] superset of keys whose encoded row key starts
        with ``key_prefix``. None = every key may match; ``EMPTY`` = no key
        can. Bounds may overshoot (suffix chars beyond the padded digits
        are ignored) — the residual string filter stays exact."""
        if len(key_prefix) <= len(self.prefix):
            return None if self.prefix.startswith(key_prefix) else self.EMPTY
        if not key_prefix.startswith(self.prefix):
            return self.EMPTY
        rest = key_prefix[len(self.prefix):]
        d = self._digit_run(rest)
        if len(d) < self.width and len(rest) > len(d):
            # a non-digit sits inside the padded span: impossible unless the
            # digit run is complete — no key's padded digits contain it
            return self.EMPTY if not d else (
                # conservative: keep the whole run the digits name
                int(d) * 10 ** (self.width - len(d)),
                (int(d) + 1) * 10 ** (self.width - len(d)) - 1,
            )
        if not d:
            return self.EMPTY
        scale = 10 ** (self.width - len(d))
        return int(d) * scale, (int(d) + 1) * scale - 1

    def range_bounds(self, start: str, end: str) -> tuple[int, int]:
        """Numeric superset [lo, hi] for keys with start <= row_key <= end
        (also valid for an exclusive end — supersets stay supersets)."""
        # lo: keys below the start's digit run sort before `start`
        if start <= self.prefix:
            lo = 0
        elif not start.startswith(self.prefix):
            lo = 0 if start < self.prefix else self._max_key() + 1  # empty
        else:
            d = self._digit_run(start[len(self.prefix):])
            lo = int(d) * 10 ** (self.width - len(d)) if d else 0
        # hi: keys above the end's digit run sort after `end`
        if end < self.prefix:
            hi = 0  # conservative single-key superset; residual empties it
        elif not end.startswith(self.prefix):
            hi = self._max_key() if end > self.prefix else 0
        else:
            rest = end[len(self.prefix):]
            d = self._digit_run(rest)
            if d:
                hi = (int(d) + 1) * 10 ** (self.width - len(d)) - 1
            elif rest and rest[0] > "9":
                # e.g. 'order#z': sorts after every padded digit string —
                # all keys are <= end
                hi = self._max_key()
            else:
                hi = 0  # 'order#' or 'order##…': below the digit span
        return lo, hi


#: codec for the orders/lineitem row-key space (``order#<pad12>[#NN]``)
ORDERS_KEY_CODEC = PaddedIntKeyCodec("order#", 12)


def scan_key_bounds(codec: PaddedIntKeyCodec, inp) -> tuple[int, int] | None:
    """Superset numeric key bounds for a ScanInput's row predicate, or
    None when nothing is derivable (full scan)."""
    if getattr(inp, "prefix", None):
        return codec.prefix_bounds(inp.prefix)
    if getattr(inp, "range", None) is not None:
        return codec.range_bounds(inp.range.start, inp.range.end)
    if getattr(inp, "ranges", None):
        bs = [codec.range_bounds(r.start, r.end) for r in inp.ranges]
        return min(b[0] for b in bs), max(b[1] for b in bs)
    return None


def _bounded(df: DataFrame, key_col: str, key_bounds: tuple[int, int] | None) -> DataFrame:
    """Apply derived numeric key bounds — a sargable predicate the parquet
    reader prunes files/row-groups with (the melt's computed row_key can't
    push down; this is the transposed seek — see PaddedIntKeyCodec)."""
    if key_bounds is None:
        return df
    lo, hi = key_bounds
    return df.filter((F.col(key_col) >= lo) & (F.col(key_col) <= hi))


def orders_cells(
    spark: SparkSession,
    sf_dir: str,
    key_bounds: tuple[int, int] | None = None,
    key_mod: int | None = None,
) -> DataFrame:
    """``key_mod=m`` keeps only ``o_orderkey % m == 0`` BEFORE the melt —
    a deterministic, SF-proportional subsample the lifecycle driver rows
    use to bound their synthetic store sizes (VERDICT r8 ask #7: those
    rows prove lifecycle invariants, not throughput, so they shouldn't
    dominate bench wall time). Oracles mirror it with the same modular
    predicate on ``o_orderkey``."""
    orders = _bounded(load_table(spark, sf_dir, "orders"), "o_orderkey", key_bounds)
    if key_mod is not None:
        orders = orders.filter(F.col("o_orderkey") % key_mod == 0)
    return melt(
        orders,
        row_key=F.concat(F.lit("order#"), _pad(F.col("o_orderkey"))),
        family="o",
        columns={
            "custkey": ("v_i64", F.col("o_custkey")),
            "orderstatus": ("v_str", F.col("o_orderstatus")),
            "totalprice": ("v_f64", F.col("o_totalprice")),
            "orderdate": ("v_i64", F.unix_millis(F.col("o_orderdate").cast("timestamp"))),
            "orderpriority": ("v_str", F.col("o_orderpriority")),
        },
    )


def lineitem_cells(
    spark: SparkSession, sf_dir: str, key_bounds: tuple[int, int] | None = None
) -> DataFrame:
    li = _bounded(load_table(spark, sf_dir, "lineitem"), "l_orderkey", key_bounds)
    return melt(
        li,
        row_key=F.concat(
            F.lit("order#"),
            _pad(F.col("l_orderkey")),
            F.lit("#"),
            F.lpad(F.col("l_linenumber").cast("string"), 2, "0"),
        ),
        family="l",
        columns={
            "partkey": ("v_i64", F.col("l_partkey")),
            "suppkey": ("v_i64", F.col("l_suppkey")),
            "quantity": ("v_f64", F.col("l_quantity")),
            "extendedprice": ("v_f64", F.col("l_extendedprice")),
            "discount": ("v_f64", F.col("l_discount")),
            "tax": ("v_f64", F.col("l_tax")),
            "returnflag": ("v_str", F.col("l_returnflag")),
            "linestatus": ("v_str", F.col("l_linestatus")),
            "shipdate": ("v_i64", F.unix_millis(F.col("l_shipdate").cast("timestamp"))),
        },
    )


def events_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events as multi-version timeseries cells (F7/F8).

    row_key = ``<event_type>#user#<padded uid>`` (a metrics series id),
    qualifier '' (default column), ts = event nanos, value f64 — exactly
    the reference's metrics-table shape (server/src/metrics.rs:39-45:
    ``lat#write#cell`` etc. storing f64 points).
    """
    ev = load_table(spark, sf_dir, "events")
    # ts normalized to microsecond-truncated nanos: SQL engines (incl. the
    # DuckDB oracle) read parquet TIMESTAMP(NANOS) at µs precision, so the
    # canonical cell timestamp keeps µs precision for cross-engine parity.
    return melt(
        ev,
        row_key=F.concat(
            F.col("event_type"), F.lit("#user#"), _pad(F.col("user_id"), 6)
        ),
        family="value",
        columns={"": ("v_f64", F.col("value"))},
        ts=F.expr("(ts div 1000) * 1000"),
    )


def unmelt(cells: DataFrame, columns: dict[str, tuple[str, str]]) -> DataFrame:
    """Inverse of ``melt``: pivot tall cells back into wide rows.

    ``columns`` maps output column → (qualifier, value column). One hash
    aggregate on row_key (map-side partial, single shuffle) with a
    conditional projection per output column — the explicit-values form of
    ``pivot`` (no second pass to discover qualifier values, which a
    ``df.pivot()`` without a values list would need). Multi-version cells
    resolve to the newest via max(ts) tie-break ordering struct.
    """
    aggs = []
    for out, (qual, vcol) in columns.items():
        picked = F.when(
            F.col("qualifier") == qual, F.struct(F.col("ts"), F.col(vcol).alias("v"))
        )
        aggs.append(F.max(picked).getField("v").alias(out))
    return cells.groupBy("row_key").agg(*aggs)
