"""Wide-column operator queries (SURVEY §2) with DuckDB oracles.

Each registry entry: name → (spark_fn(spark, sf_dir) -> DataFrame,
oracle_sql | None). The Spark side runs the engine's real operators over
melted testdata; the oracle recomputes the same semantics in ANSI SQL over
the original relational tables (melt CTEs in queries_util.py).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from smoltable_spark.api import (
    ColumnFamilyDef,
    ColumnFilter,
    CountInput,
    QueryRowInput,
    RowRange,
    ScanInput,
)
from smoltable_spark.operators import (
    count_exact,
    delete_row,
    multi_get,
    run_gc,
    run_version_gc,
    scan_cells,
    scan_count,
)
from smoltable_spark.operators.count import approximate_row_count
from smoltable_spark.operators.read import get_row_cells, multi_get_cells
from smoltable_spark.queries_util import (
    EVENTS_MELT,
    LINEITEM_MELT,
    ORDERS_MELT,
    SLIM_COLS,
    build_once,
    cells_cte,
    scratch_dir,
    slim,
)
from smoltable_spark.session import materialize
from smoltable_spark.sources.relational import (
    events_cells,
    lineitem_cells,
    orders_cells,
)

# registry: name -> (spark_fn, oracle_sql | None)
CORE_QUERIES: dict = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        CORE_QUERIES[name] = (fn, oracle)
        return fn

    return deco


_SLIM = ", ".join(SLIM_COLS)
_CELL_ORDER_SQL = "row_key, family, qualifier, ts DESC"


# ---------------------------------------------------------------------------
# scans: predicates (P1-P5) and full scan (Q1)

@q(
    "wc_scan_all",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells",
)
def wc_scan_all(spark, sf_dir):
    """Full scan, empty prefix (reference smoltable/tests/scan_all.rs)."""
    return slim(scan_cells(orders_cells(spark, sf_dir), ScanInput(prefix="")))


def _orders_scan(spark, sf_dir, inp):
    """Scan over the orders melt with the row predicate transposed to
    numeric o_orderkey bounds (superset, pushed to parquet) — the melt-path
    equivalent of the reference's seek-to-prefix. The exact string
    predicate still runs inside scan_cells as the residual."""
    from smoltable_spark.sources.relational import ORDERS_KEY_CODEC, scan_key_bounds

    bounds = scan_key_bounds(ORDERS_KEY_CODEC, inp)
    return scan_cells(orders_cells(spark, sf_dir, key_bounds=bounds), inp)


@q(
    "wc_scan_prefix",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells "
    "WHERE row_key LIKE 'order#00000000012%'",
)
def wc_scan_prefix(spark, sf_dir):
    """Prefix scan (P4; smoltable/tests/scan_prefix_simple.rs)."""
    return slim(_orders_scan(spark, sf_dir, ScanInput(prefix="order#00000000012")))


@q(
    "wc_scan_range",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells "
    "WHERE row_key >= 'order#000000000100' AND row_key <= 'order#000000000200'",
)
def wc_scan_range(spark, sf_dir):
    """Inclusive range scan (P5; smoltable/tests/scan_range_simple.rs)."""
    inp = ScanInput(range=RowRange("order#000000000100", "order#000000000200", True))
    return slim(_orders_scan(spark, sf_dir, inp))


@q(
    "wc_scan_range_exclusive",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells "
    "WHERE row_key >= 'order#000000000100' AND row_key < 'order#000000000200'",
)
def wc_scan_range_exclusive(spark, sf_dir):
    """End-exclusive range scan (P5 ``inclusive=False`` — the reference's
    ``Range.inclusive`` flag, smoltable/src/query/scan.rs:5-9)."""
    inp = ScanInput(range=RowRange("order#000000000100", "order#000000000200", False))
    return slim(_orders_scan(spark, sf_dir, inp))


@q(
    "wc_scan_multi_range",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells "
    "WHERE (row_key >= 'order#000000000100' AND row_key <= 'order#000000000110') "
    "   OR (row_key >= 'order#000000000500' AND row_key <= 'order#000000000510')",
)
def wc_scan_multi_range(spark, sf_dir):
    """EXTENSION: disjoint multi-range scan — the reference stubs ``Ranges``
    as a commented TODO (smoltable/src/query/scan.rs:18-20). One OR'd
    sargable predicate; each disjunct still prunes row groups."""
    inp = ScanInput(
        ranges=(
            RowRange("order#000000000100", "order#000000000110", True),
            RowRange("order#000000000500", "order#000000000510", True),
        )
    )
    return slim(_orders_scan(spark, sf_dir, inp))


@q(
    "wc_scan_ts_window",
    f"{cells_cte(EVENTS_MELT)} SELECT {_SLIM} FROM cells "
    "WHERE ts >= 1705000000000000000 AND ts <= 1705500000000000000",
)
def wc_scan_ts_window(spark, sf_dir):
    """EXTENSION: cell-timestamp window — the reference stubs time-range
    filters as TODO (query/scan.rs:46-51, row.rs:22-25). Long-range
    predicate on ts, pushed to parquet alongside the key predicates."""
    inp = ScanInput(prefix="", ts_min=1705000000000000000, ts_max=1705500000000000000)
    return slim(scan_cells(events_cells(spark, sf_dir), inp))


@q(
    "wc_scan_reverse",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells WHERE row_key IN "
    "(SELECT row_key FROM (SELECT DISTINCT row_key FROM cells ORDER BY row_key DESC LIMIT 5))",
)
def wc_scan_reverse(spark, sf_dir):
    """EXTENSION: backward scan + row limit → LAST 5 rows (descending scans
    are documented as unsupported in the reference, docs/.../scan-rows.md:189).
    The driver's compare is order-insensitive, so the oracle checks the
    selection semantics (last-N rows, not first-N)."""
    inp = ScanInput(prefix="", reverse=True, row_limit=5)
    return slim(scan_cells(orders_cells(spark, sf_dir), inp))


@q(
    "wc_filter_key",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells "
    "WHERE family = 'o' AND qualifier = 'totalprice'",
)
def wc_filter_key(spark, sf_dir):
    """Exact column filter (P1; reference cell.rs:214-228)."""
    inp = ScanInput(prefix="", column_filter=ColumnFilter.key("o:totalprice"))
    return slim(scan_cells(orders_cells(spark, sf_dir), inp))


@q(
    "wc_filter_key_family",
    f"{cells_cte(ORDERS_MELT + ' UNION ALL ' + LINEITEM_MELT)} "
    f"SELECT {_SLIM} FROM cells "
    "WHERE row_key LIKE 'order#00000000001%' AND family = 'l'",
)
def wc_filter_key_family(spark, sf_dir):
    """Family-only filter matches the whole family (P1 family form).
    The row prefix transposes to o_orderkey/l_orderkey bounds on BOTH
    melted sources (they share the key codec), pruning each scan."""
    from smoltable_spark.sources.relational import ORDERS_KEY_CODEC, scan_key_bounds

    inp = ScanInput(prefix="order#00000000001", column_filter=ColumnFilter.key("l"))
    bounds = scan_key_bounds(ORDERS_KEY_CODEC, inp)
    cells = orders_cells(spark, sf_dir, key_bounds=bounds).unionByName(
        lineitem_cells(spark, sf_dir, key_bounds=bounds)
    )
    return slim(scan_cells(cells, inp))


@q(
    "wc_filter_multi_key",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells "
    "WHERE (family = 'o' AND qualifier = 'custkey') "
    "   OR (family = 'o' AND qualifier = 'orderstatus')",
)
def wc_filter_multi_key(spark, sf_dir):
    """OR of column keys (P2; reference cell.rs:229-245)."""
    inp = ScanInput(
        prefix="",
        column_filter=ColumnFilter.multi_key(["o:custkey", "o:orderstatus"]),
    )
    return slim(scan_cells(orders_cells(spark, sf_dir), inp))


@q(
    "wc_filter_qualifier_prefix",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells "
    "WHERE family = 'o' AND qualifier LIKE 'order%'",
)
def wc_filter_qualifier_prefix(spark, sf_dir):
    """Qualifier-prefix filter (P3; reference cell.rs:246-264)."""
    inp = ScanInput(prefix="", column_filter=ColumnFilter.prefix("o", "order"))
    return slim(scan_cells(orders_cells(spark, sf_dir), inp))


@q(
    "wc_family_stats",
    f"{cells_cte(ORDERS_MELT + ' UNION ALL ' + LINEITEM_MELT)} "
    "SELECT family, qualifier, CAST(count(*) AS BIGINT) AS n_cells, "
    "CAST(count(DISTINCT row_key) AS BIGINT) AS n_rows "
    "FROM cells GROUP BY family, qualifier",
)
def wc_family_stats(spark, sf_dir):
    """Per-(family, qualifier) table statistics — cells and distinct rows:
    the column-population census behind the reference's stats series
    (stats#row_cnt / stats#cell_cnt per table, server/src/worker/
    row_count.rs:20-31) taken down to column granularity. One hash
    aggregate with map-side partials; the distinct-count shuffles by
    (family, qualifier, row_key)."""
    cells = orders_cells(spark, sf_dir).unionByName(lineitem_cells(spark, sf_dir))
    return cells.groupBy("family", "qualifier").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.countDistinct("row_key").alias("n_rows"),
    )


@q(
    "wc_unmelt_roundtrip",
    "SELECT 'order#' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS row_key, "
    "CAST(o_custkey AS BIGINT) AS custkey, o_orderstatus AS orderstatus, "
    "CAST(o_totalprice AS DOUBLE) AS totalprice, "
    "CAST(epoch_ms(o_orderdate) AS BIGINT) AS orderdate_ms, "
    "o_orderpriority AS orderpriority "
    "FROM orders WHERE o_orderkey <= 500",
)
def wc_unmelt_roundtrip(spark, sf_dir):
    """Wide⇄tall round trip: melt orders to cells, pivot back with
    ``unmelt``, and the oracle compares against the ORIGINAL relational
    rows — proving the cell mapping is lossless. One shuffle (the pivot's
    hash aggregate); the key bound pushes to the scan via the codec."""
    from smoltable_spark.sources.relational import unmelt

    cells = orders_cells(spark, sf_dir, key_bounds=(0, 500))
    wide = unmelt(
        cells,
        {
            "custkey": ("custkey", "v_i64"),
            "orderstatus": ("orderstatus", "v_str"),
            "totalprice": ("totalprice", "v_f64"),
            "orderdate_ms": ("orderdate", "v_i64"),
            "orderpriority": ("orderpriority", "v_str"),
        },
    )
    return wide.filter(F.col("row_key") <= "order#000000000500")


# ---------------------------------------------------------------------------
# native-storage scan (S2/S5/S6: sorted, lg-partitioned CellStore)

def _orders_store(spark, sf_dir):
    """Build-once CellStore of the orders melt (per session and sf dir, in
    scratch).

    This is the engine's NATIVE layout — lg-partitioned, range-partitioned
    and sorted by row key — in which prefix/point predicates reach the
    parquet reader as pushed filters and min/max row-group skipping
    replaces the reference's LSM seek (reader.rs:46-78). The melt-based
    queries above exercise the loader path; this one exercises storage.
    """
    return build_once(
        spark, sf_dir, "orders_store", lambda: _orders_cell_store(spark, sf_dir)
    )


def _orders_cell_store(spark, sf_dir):
    """A new single-version CellStore of the orders melt in scratch."""
    from smoltable_spark.sources.store import CellStore

    store = CellStore(spark, scratch_dir("smoltable_store_"))
    store.save_families([ColumnFamilyDef("o", lg="lg_orders")])
    store.write(orders_cells(spark, sf_dir))
    return store


@q(
    "wc_store_scan_prefix",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells "
    "WHERE row_key LIKE 'order#00000000012%' "
    "AND family = 'o' AND qualifier = 'totalprice'",
)
def wc_store_scan_prefix(spark, sf_dir):
    """Prefix scan against the native sorted CellStore: locality-group
    partition pruning (PartitionFilters) + row-key prefix pushdown
    (PushedFilters: StringStartsWith) — asserted in tests/test_plans.py."""
    store = _orders_store(spark, sf_dir)
    cf = ColumnFilter.key("o:totalprice")
    cells = store.read_for_filter(cf).drop("lg")
    inp = ScanInput(prefix="order#00000000012", column_filter=cf)
    return slim(scan_cells(cells, inp))


def _ensure_probe(spark, store):
    """Idempotently append the single probe cell (delta v2) used by the
    MVCC and metadata-count queries, making their results independent of
    the order the driver runs them in."""
    from smoltable_spark.sources.writer import rows_to_cells

    if store.current_version() == 1:
        store.append(
            rows_to_cells(
                spark,
                [{"row_key": "zzz#probe", "cells": [
                    {"column_key": "o:probe", "value": {"i64": 1}, "timestamp": 1}]}],
            )
        )


@q(
    "wc_store_time_travel",
    "SELECT CAST(count(*) * 5 AS BIGINT) AS v_base_cells, "
    "CAST(count(*) * 5 + 1 AS BIGINT) AS v_next_cells FROM orders",
)
def wc_store_time_travel(spark, sf_dir):
    """MVCC snapshot reads: after an O(batch) delta append, the PRIOR
    version still reads exactly the pre-append table (the reference's
    ``keyspace.instant()`` snapshot isolation, mod.rs:653, as immutable
    snapshot versions). Idempotent: the probe append commits once per
    store; both versions' cell counts are compared against the source
    table."""
    store = _orders_store(spark, sf_dir)
    _ensure_probe(spark, store)
    base = store.read(version=1).count()
    cur = store.read().count()
    return spark.createDataFrame(
        [(base, cur)], "v_base_cells long, v_next_cells long"
    )


@q(
    "wc_store_unsafe_commit",
    "WITH o AS (SELECT o_orderkey AS k, o_totalprice AS tp FROM orders "
    "WHERE o_orderkey % 97 = 0), "
    "n AS (SELECT CAST(count(*) AS BIGINT) AS n_base, "
    "CAST(count(*) FILTER (WHERE k % 2 = 0) AS BIGINT) AS n2, "
    "CAST(count(*) FILTER (WHERE k % 3 = 0) AS BIGINT) AS n3 FROM o), "
    "s AS (SELECT CAST(SUM(CASE WHEN k % 3 = 0 THEN ROUND((tp + 2.0) * 100) "
    "WHEN k % 2 = 0 THEN ROUND((tp + 1.0) * 100) "
    "ELSE ROUND(tp * 100) END) AS BIGINT) AS newest_cents, "
    "CAST(SUM(ROUND(tp * 100)) AS BIGINT) AS base_cents FROM o) "
    "SELECT CAST(3 AS INT) AS version_after, "
    "'1,2,3' AS gens_before_vacuum, CAST(0 AS INT) AS plain_pointer_present, "
    "n_base + n2 + n3 AS n_cells, newest_cents, "
    "base_cents AS time_travel_v1_cents, '3' AS gens_after_vacuum, "
    "newest_cents AS cents_after_vacuum FROM n, s",
)
def wc_store_unsafe_commit(spark, sf_dir):
    """The generation commit protocol end-to-end under the object-store
    capability profile, oracle-pinned: a CellStore whose filesystem
    reports ``atomic_rename = False`` (simulated here over local
    syscalls with a ``replace_text`` that raises, so any rename-based
    publish of a pointer or sidecar fails the row) commits every version
    as a fresh ``_VERSION-v<n>`` generation file — the one commit form
    of every filesystem — and never writes a plain ``_VERSION``. The row
    pins the full protocol against orders-derived oracle math: resolution (max over
    generations), LSM shadowing across the generation-committed chain
    (newest per-coordinate totalprice after two rewrite deltas), MVCC
    time travel to v1, and vacuum's generation sweep (legs all retained
    by the v3 chain; pointer generations below the retention cutoff
    removed, readers unaffected)."""
    from smoltable_spark.sources.store import CellStore
    from smoltable_spark.sources.store_fs import LocalStoreFS

    class _UnsafeFS(LocalStoreFS):
        atomic_rename = False

        def replace_text(self, p, content):  # pragma: no cover — guard
            raise AssertionError(
                "rename-based pointer publish on a rename-unsafe fs"
            )

    store = CellStore(spark, scratch_dir("smoltable_unsafe_"))
    store._fs = _UnsafeFS()
    store.save_families([ColumnFamilyDef("o")])
    base = orders_cells(spark, sf_dir, key_mod=97).filter(
        F.col("qualifier") == "totalprice"
    )
    store.write(base, assume_unique_coords=True)
    key_num = F.regexp_extract("row_key", r"order#(\d+)", 1).cast("long")
    for mod, ts, bump in ((2, 1, 1.0), (3, 2, 2.0)):
        store.append(
            base.filter(key_num % mod == 0)
            .withColumn("ts", F.lit(ts).cast("long"))
            .withColumn("v_f64", F.col("v_f64") + F.lit(bump)),
            assume_unique_coords=True,
        )

    def _gens():
        return ",".join(
            str(g) for g in sorted(store._pointer.generations())
        )

    def _cents(df):
        row = (
            df.groupBy("row_key")
            .agg(F.max(F.struct("ts", F.col("v_f64").alias("v"))).alias("m"))
            .agg(
                F.sum(F.round(F.col("m.v") * 100).cast("long")).alias("c")
            )
            .collect()[0]
        )
        return int(row["c"])

    version_after = store.current_version()
    gens_before = _gens()
    plain_present = int(
        store._fs.exists(os.path.join(store.path, "_VERSION"))
    )
    snap = store.read()
    n_cells = snap.count()
    newest_cents = _cents(snap)
    tt_cents = _cents(store.read(version=1))
    store.vacuum(keep_last=1)
    gens_after = _gens()
    cents_after = _cents(store.read())
    return spark.createDataFrame(
        [(
            version_after, gens_before, plain_present, n_cells,
            newest_cents, tt_cents, gens_after, cents_after,
        )],
        "version_after int, gens_before_vacuum string, "
        "plain_pointer_present int, n_cells long, newest_cents long, "
        "time_travel_v1_cents long, gens_after_vacuum string, "
        "cents_after_vacuum long",
    )


def _probe_store(spark, sf_dir):
    """Fresh single-version orders store for wc_plan_probe: the SHARED
    ``_orders_store`` accretes probe deltas from sibling queries, which
    changes leg counts (and hence plan-fact counts) with driver run
    order — this one is written exactly once by exactly this query, so
    every plan fact below is deterministic."""
    return build_once(
        spark, sf_dir, "probe_store", lambda: _orders_cell_store(spark, sf_dir)
    )


@q(
    "wc_plan_probe",
    """
    SELECT fact, CAST(value AS BIGINT) AS value FROM (VALUES
        ('count_exact_shuffles',        2),
        ('multi_get_in_pushdown',       1),
        ('multi_get_shuffles',          0),
        ('prefix_lg_partition_pruned',  1),
        ('prefix_pushed_startswith',    1),
        ('prefix_scan_read_columns',    8),
        ('prefix_scan_shuffles',        0)
    ) AS t(fact, value)
    """,
)
def wc_plan_probe(spark, sf_dir):
    """Q2-adjacent PLAN facts as data (VERDICT r3 ask #8): the physical
    properties the 100 TB design depends on, returned as a DataFrame and
    oracle-pinned to constants — so a plan regression (lost pushdown,
    surprise shuffle, broken partition pruning) flips a DRIVER row red
    instead of only a pytest.

    Facts, for the canonical prefix scan over a fresh single-version
    lg-partitioned CellStore (see ``_probe_store``):

    - ``prefix_pushed_startswith``: exactly one
      ``StringStartsWith(row_key, ...)`` reaches the parquet reader;
    - ``prefix_lg_partition_pruned``: the locality-group equality shows
      up in PartitionFilters (directory pruning, S5);
    - ``prefix_scan_shuffles`` = 0: a prefix scan is scan+filter+project
      only — the property that keeps point/prefix reads O(matching
      row-groups) at any table size;
    - ``prefix_scan_read_columns`` = 8: the slim projection's column
      pruning reaches ReadSchema (8 of the 12 physical columns);
    - ``count_exact_shuffles`` = 2: exact count is partial-agg →
      final-agg, nothing more;
    - ``multi_get_in_pushdown`` = 1 with ``multi_get_shuffles`` = 0: a
      small multi-get compiles to an In() filter pushed to the reader,
      not a join.
    """
    from smoltable_spark.operators.read import multi_get_cells
    from smoltable_spark.plans import explain as X

    store = _probe_store(spark, sf_dir)
    cf = ColumnFilter.key("o:totalprice")
    cells = store.read_for_filter(cf).drop("lg")
    scan = slim(
        scan_cells(cells, ScanInput(prefix="order#00000000012", column_filter=cf))
    )
    pushed = X.pushed_filters(scan)
    mg = multi_get_cells(
        cells,
        [
            QueryRowInput(row_key="order#000000000001"),
            QueryRowInput(row_key="order#000000000002"),
        ],
    )
    facts = {
        "prefix_pushed_startswith": sum(
            1 for p in pushed if p.startswith("StringStartsWith(row_key")
        ),
        "prefix_lg_partition_pruned": int(
            any("lg_orders" in p for p in X.partition_filters(scan))
        ),
        "prefix_scan_shuffles": X.shuffle_count(scan),
        "prefix_scan_read_columns": max(
            (len(c) for c in X.read_schema_columns(scan)), default=0
        ),
        "count_exact_shuffles": X.shuffle_count(count_exact(cells)),
        "multi_get_in_pushdown": int(
            any(p.startswith("In(row_key") for p in X.pushed_filters(mg))
        ),
        "multi_get_shuffles": X.shuffle_count(mg),
    }
    return spark.createDataFrame(
        sorted(facts.items()), "fact string, value long"
    )


@q(
    "wc_approx_cell_count",
    "SELECT CAST(count(*) * 5 + 1 AS BIGINT) AS approx_cell_count FROM orders",
)
def wc_approx_cell_count(spark, sf_dir):
    """A3 — approximate cell count from parquet FOOTER metadata only (no
    Spark job, no data pages read): the reference sums LSM segment item
    counts (smoltable/src/table/mod.rs:299-306). Over the canonical
    orders store chain (base melt + 1 probe delta, no shadowed
    coordinates) the metadata sum is exact, so the oracle can pin it to
    the relational count."""
    store = _orders_store(spark, sf_dir)
    _ensure_probe(spark, store)
    return spark.createDataFrame(
        [(store.approximate_cell_count(),)], "approx_cell_count long"
    )


@q(
    "wc_row_shape",
    f"{cells_cte(EVENTS_MELT)} SELECT row_key, family, qualifier, "
    "CAST(row_number() OVER (PARTITION BY row_key, family, qualifier "
    "ORDER BY ts DESC, v_f64 DESC) - 1 AS INT) AS version_idx, "
    "ts AS time, vtype, v_f64 "
    "FROM cells WHERE row_key LIKE 'click#user#00000%'",
)
def wc_row_shape(spark, sf_dir):
    """Golden nested row shape, oracle-checked: ``assemble_rows`` builds
    the reference's ``Row{row_key, columns: map<family, map<qualifier,
    array<cell>>>}`` (row.rs:5-9; golden tests e.g.
    scan_range_simple.rs:86-120), then the query flat-explodes it back —
    ``version_idx`` is each cell's position in its version array, so the
    hash check pins the newest-first version ordering AND the nesting
    structure, not just the cell set. Multi-version columns come from the
    events melt (one column per (event_type, user), one version per
    event). Tie-break parity: sort_array orders the full cell struct, so
    equal timestamps fall through to the value — mirrored by ``v_f64
    DESC`` in the oracle's rank."""
    from smoltable_spark.operators.scan import scan_rows

    rows = scan_rows(events_cells(spark, sf_dir), ScanInput(prefix="click#user#00000"))
    return (
        rows.select("row_key", F.explode("columns").alias("family", "qmap"))
        .select("row_key", "family", F.explode("qmap").alias("qualifier", "cells"))
        .select(
            "row_key", "family", "qualifier",
            F.posexplode("cells").alias("version_idx", "cell"),
        )
        .select(
            "row_key",
            "family",
            "qualifier",
            F.col("version_idx").cast("int").alias("version_idx"),
            F.col("cell.time").alias("time"),
            F.col("cell.vtype").alias("vtype"),
            F.col("cell.v_f64").alias("v_f64"),
        )
    )


# ---------------------------------------------------------------------------
# row accounting (Q1a/b/f) and cell limits (Q1c/d/e)

_RANKED = (
    "keys AS (SELECT DISTINCT row_key FROM cells), "
    "ranked AS (SELECT row_key, row_number() OVER (ORDER BY row_key) AS rk FROM keys)"
)


@q(
    "wc_scan_row_limit",
    f"{cells_cte(ORDERS_MELT)}, {_RANKED} "
    f"SELECT {_SLIM} FROM cells JOIN ranked USING (row_key) WHERE rk <= 50",
)
def wc_scan_row_limit(spark, sf_dir):
    """Row limit (Q1a; smoltable/tests/scan_prefix_simple_row_limit.rs)."""
    return slim(scan_cells(orders_cells(spark, sf_dir), ScanInput(prefix="", row_limit=50)))


@q(
    "wc_scan_row_offset",
    f"{cells_cte(ORDERS_MELT)}, {_RANKED} "
    f"SELECT {_SLIM} FROM cells JOIN ranked USING (row_key) "
    "WHERE rk > 10 AND rk <= 30",
)
def wc_scan_row_offset(spark, sf_dir):
    """Row offset + limit (Q1b; reference mod.rs:753-756)."""
    return slim(
        scan_cells(
            orders_cells(spark, sf_dir), ScanInput(prefix="", row_offset=10, row_limit=20)
        )
    )


@q(
    "wc_scan_row_sample",
    f"{cells_cte(ORDERS_MELT)}, {_RANKED} "
    f"SELECT {_SLIM} FROM cells JOIN ranked USING (row_key) "
    "WHERE rk = 1 OR floor(rk * 0.25) > floor((rk - 1) * 0.25)",
)
def wc_scan_row_sample(spark, sf_dir):
    """Deterministic stride sampling (Q1f; reference mod.rs:736-746).
    Phase matches the reference accumulator's 1.0 start: the first scanned
    row is always emitted (see scan._apply_row_accounting docstring)."""
    return slim(scan_cells(orders_cells(spark, sf_dir), ScanInput(prefix="", sample=0.25)))


@q(
    "wc_scan_cell_limit",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells "
    f"ORDER BY {_CELL_ORDER_SQL} LIMIT 100",
)
def wc_scan_cell_limit(spark, sf_dir):
    """Global cell limit in total cell order (Q1c; mod.rs:646-650)."""
    return slim(scan_cells(orders_cells(spark, sf_dir), ScanInput(prefix="", cell_limit=100)))


@q(
    "wc_scan_row_cell_limit",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM ("
    "  SELECT c.*, row_number() OVER ("
    "    PARTITION BY row_key ORDER BY family, qualifier, ts DESC) AS rr"
    "  FROM cells c) WHERE rr <= 3",
)
def wc_scan_row_cell_limit(spark, sf_dir):
    """Per-row cell budget (Q1d; smoltable/tests/read_row_cell_limit.rs)."""
    return slim(
        scan_cells(orders_cells(spark, sf_dir), ScanInput(prefix="", row_cell_limit=3))
    )


@q(
    "wc_scan_version_limit",
    f"{cells_cte(EVENTS_MELT)} SELECT {_SLIM} FROM ("
    "  SELECT c.*, row_number() OVER ("
    "    PARTITION BY row_key, family, qualifier ORDER BY ts DESC) AS vr"
    "  FROM cells c) WHERE vr <= 5",
)
def wc_scan_version_limit(spark, sf_dir):
    """Per-column version limit (Q1e) on multi-version timeseries cells
    (smoltable/tests/read_row_column_cell_limit.rs at scale)."""
    return slim(
        scan_cells(events_cells(spark, sf_dir), ScanInput(prefix="", column_cell_limit=5))
    )


# ---------------------------------------------------------------------------
# point reads (R1/R2)

@q(
    "wc_get_row",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells "
    "WHERE row_key = 'order#000000000042'",
)
def wc_get_row(spark, sf_dir):
    """Point read (R1; smoltable/tests/read_row_simple.rs)."""
    return slim(
        get_row_cells(orders_cells(spark, sf_dir), QueryRowInput("order#000000000042"))
    )


_MULTI_KEYS = [
    "order#000000000001",
    "order#000000000007",
    "order#000000000042",
    "order#000000000100",
    "order#000000000999",
]


@q(
    "wc_multi_get",
    f"{cells_cte(ORDERS_MELT)} SELECT {_SLIM} FROM cells WHERE row_key IN ("
    + ", ".join(f"'{k}'" for k in _MULTI_KEYS)
    + ")",
)
def wc_multi_get(spark, sf_dir):
    """Batched point reads (R2; reference mod.rs:600-626)."""
    inputs = [QueryRowInput(k) for k in _MULTI_KEYS]
    return slim(multi_get_cells(orders_cells(spark, sf_dir), inputs))


# ---------------------------------------------------------------------------
# counts (A1/A2/A4)

@q(
    "wc_count",
    f"{cells_cte(ORDERS_MELT)} SELECT CAST(count(DISTINCT row_key) AS BIGINT) "
    "AS row_count, CAST(count(*) AS BIGINT) AS cell_count FROM cells",
)
def wc_count(spark, sf_dir):
    """Exact table count (A1; smoltable/tests/write_count.rs)."""
    return count_exact(orders_cells(spark, sf_dir))


@q(
    "wc_scan_count",
    f"{cells_cte(ORDERS_MELT)} SELECT CAST(count(DISTINCT row_key) AS BIGINT) "
    "AS row_count, CAST(count(*) AS BIGINT) AS cell_count FROM cells "
    "WHERE row_key LIKE 'order#0000000001%' "
    "AND family = 'o' AND qualifier = 'totalprice'",
)
def wc_scan_count(spark, sf_dir):
    """Predicated count without materializing rows (A2; mod.rs:361-451)."""
    inp = CountInput(
        prefix="order#0000000001", column_filter=ColumnFilter.key("o:totalprice")
    )
    return scan_count(orders_cells(spark, sf_dir), inp)


@q(
    "wc_approx_count",
    f"{cells_cte(ORDERS_MELT + ' UNION ALL ' + LINEITEM_MELT)} "
    "SELECT CAST(floor(count(*) / 2) AS BIGINT) AS approx_row_count, "
    "CAST(count(*) AS BIGINT) AS cell_count FROM cells",
)
def wc_approx_count(spark, sf_dir):
    """A4 parity heuristic: rows ≈ cells / #families (mod.rs:310-320)."""
    cells = orders_cells(spark, sf_dir).unionByName(lineitem_cells(spark, sf_dir))
    return approximate_row_count(cells, family_count=2)


# ---------------------------------------------------------------------------
# mutations + GC (D1-D3)

@q(
    "wc_delete_row",
    f"{cells_cte(ORDERS_MELT)} SELECT CAST(count(*) AS BIGINT) AS remaining_cells "
    "FROM cells WHERE NOT (row_key = 'order#000000000042' "
    "AND family = 'o' AND qualifier = 'custkey')",
)
def wc_delete_row(spark, sf_dir):
    """Column-filtered row delete (D1; smoltable/tests/delete_column_filter.rs):
    result = surviving cell count (the new snapshot's size)."""
    out = delete_row(
        orders_cells(spark, sf_dir),
        "order#000000000042",
        ColumnFilter.key("o:custkey"),
    )
    return out.agg(F.count(F.lit(1)).alias("remaining_cells"))


@q(
    "wc_gc_versions",
    f"{cells_cte(EVENTS_MELT)} SELECT CAST(count(*) AS BIGINT) AS kept_cells, "
    "CAST(count(DISTINCT row_key) AS BIGINT) AS kept_rows FROM ("
    "  SELECT c.*, row_number() OVER ("
    "    PARTITION BY row_key, family, qualifier ORDER BY ts DESC) AS vr"
    "  FROM cells c) WHERE vr <= 3",
)
def wc_gc_versions(spark, sf_dir):
    """Version-limit GC (D2; smoltable/tests/gc.rs): keep newest 3."""
    fams = [ColumnFamilyDef("value", version_limit=3)]
    out = run_version_gc(events_cells(spark, sf_dir), fams)
    return out.agg(
        F.count(F.lit(1)).alias("kept_cells"),
        F.countDistinct("row_key").alias("kept_rows"),
    )


#: fixed "now" for deterministic TTL tests: 2024-02-15T00:00:00Z in nanos
_TTL_NOW = 1_707_955_200_000_000_000
_TTL_SECS = 30 * 24 * 3600  # 30 days → cutoff 2024-01-16


@q(
    "wc_gc_ttl",
    f"{cells_cte(EVENTS_MELT)} SELECT CAST(count(*) AS BIGINT) AS kept_cells, "
    "CAST(min(ts) AS BIGINT) AS min_ts, CAST(max(ts) AS BIGINT) AS max_ts "
    f"FROM cells WHERE ts = 0 OR ts >= {_TTL_NOW - _TTL_SECS * 1_000_000_000}",
)
def wc_gc_ttl(spark, sf_dir):
    """TTL GC (D3; reference mod.rs:545-557, ts==0 exempt at :546)."""
    fams = [ColumnFamilyDef("value", ttl_secs=_TTL_SECS)]
    out = run_gc(events_cells(spark, sf_dir), fams, now_nanos=_TTL_NOW)
    return out.agg(
        F.count(F.lit(1)).alias("kept_cells"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# metrics timeseries (§2.8) and worker lifecycle (D4/S9/§2.9) end-state
# oracles — the last previously pytest-only components (VERDICT r2 asks
# #2 and #5).

#: metrics fixture: 3 series × 1000 points, ts_i = 1_000_000 + 1000*i,
#: value = (7*i mod 101) + series_index — small exact integers so every
#: f64 and the interpolated median are bit-exact across engines.
_MTX_SERIES = ["lat#write#cell", "lat#scan#row", "stats#row_cnt"]
_MTX_N = 1000
_MTX_PTS_SQL = (
    "pts AS (SELECT s.series, s.sidx, g.i, "
    "CAST(1000000 + g.i * 1000 AS BIGINT) AS ts, "
    "CAST((g.i * 7) % 101 + s.sidx AS DOUBLE) AS value "
    "FROM (VALUES ('lat#write#cell', 0), ('lat#scan#row', 1), "
    "('stats#row_cnt', 2)) AS s(series, sidx) "
    f"CROSS JOIN (SELECT CAST(range AS INT) AS i FROM range(0, {_MTX_N})) AS g)"
)


@q(
    "wc_metrics_series",
    f"WITH {_MTX_PTS_SQL}, "
    "cut AS (SELECT quantile_cont(ts, 0.5) AS m FROM pts), "
    "kept AS (SELECT series, ts, value FROM pts, cut WHERE ts >= m), "
    "ranked AS (SELECT series, ts, value, row_number() OVER ("
    "  PARTITION BY series ORDER BY ts DESC) AS rn FROM kept) "
    "SELECT 'dash720' AS read_tag, series, ts, value FROM ranked WHERE rn <= 720 "
    "UNION ALL "
    "SELECT 'dash100' AS read_tag, series, ts, value FROM ranked WHERE rn <= 100",
)
def wc_metrics_series(spark, sf_dir):
    """§2.8 metrics timeseries end-to-end, oracle-pinned: build a metrics
    table (two atomic append batches with explicit per-point timestamps —
    reference data_point! macro, server/src/metrics.rs:39-45), enforce the
    FIFO byte-cap retention (cap=1 byte forces the cut; the exact-median
    tail drop mirrors fjall FIFO-compacting the oldest segments,
    metrics.rs:14-24), then run the dashboard read — newest ``limit``
    points per series via multi_get with per-column cell_limit
    (server/src/html.rs:11-196, cell_limit 720). The 720-read pins the
    retention cut (only 500 of 1000 points survive per series); the
    100-read pins the dashboard limit itself."""
    from smoltable_spark.jobs.metrics import MetricsTable
    from smoltable_spark.sources.store import CellStore

    store = CellStore(spark, scratch_dir("smoltable_mtx_"))
    store.save_families([ColumnFamilyDef("value")])
    mt = MetricsTable(store, cap_bytes=1)
    pts = [
        (s, float((i * 7) % 101 + si), 1_000_000 + i * 1000)
        for si, s in enumerate(_MTX_SERIES)
        for i in range(_MTX_N)
    ]
    half = 1_000_000 + (_MTX_N // 2) * 1000
    mt.record_series([p for p in pts if p[2] < half])
    mt.record_series([p for p in pts if p[2] >= half])
    mt.enforce_retention()
    r720 = mt.read_series(_MTX_SERIES, limit=720).withColumn(
        "read_tag", F.lit("dash720")
    )
    r100 = mt.read_series(_MTX_SERIES, limit=100).withColumn(
        "read_tag", F.lit("dash100")
    )
    return r720.unionByName(r100).select("read_tag", "series", "ts", "value")


@q(
    "wc_gc_worker_cycle",
    "WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_orders, "
    "CAST(count(*) FILTER (WHERE o_orderkey % 10 = 0) AS BIGINT) AS m "
    "FROM orders WHERE o_orderkey % 7 = 0) "
    "SELECT n_orders * 5 + m AS cells_before, n_orders * 5 AS cells_after, "
    "m AS deleted_cells, CAST(1 AS BIGINT) AS max_versions_after, "
    "CAST(1 AS INT) AS chain_len_after_vacuum FROM n",
)
def wc_gc_worker_cycle(spark, sf_dir):
    """Full maintenance lifecycle end-state, oracle-pinned (D4 + S9 +
    §2.9; the Spark analog of reference gc.rs post-GC scan assertions,
    server/src/worker/gc.rs:6-41 and smoltable/tests/gc.rs:30-66):

    base write (orders melt, ts=0) → delta append rewriting ``totalprice``
    at ts=1 for every orderkey % 10 == 0 → ``compaction_worker`` folds the
    chain (L0-threshold analog, mod.rs:156-165) → ``gc_worker`` with
    ``version_limit=1`` deletes the shadowed base versions →
    ``vacuum(keep_last=1)`` drops superseded snapshot dirs (S9). The
    result row pins every observable: cell counts before/after, the
    worker's deleted count, max surviving versions per coordinate, and
    the post-vacuum chain length — all derived from the orders table by
    the oracle, not hardcoded from a run."""
    from smoltable_spark.jobs.workers import compaction_worker, gc_worker
    from smoltable_spark.sources.store import CellStore

    store = CellStore(spark, scratch_dir("smoltable_gccycle_"))
    store.save_families([ColumnFamilyDef("o", version_limit=1)])
    # key_mod=7 subsample (VERDICT r8 ask #7): the row proves the
    # maintenance lifecycle's invariants, which are size-independent —
    # 7 is coprime to the %10 rewrite class, so the shadowed-version
    # population stays non-degenerate at every SF.
    base = orders_cells(spark, sf_dir, key_mod=7)
    # orders melt: one cell per (order, qualifier) — coordinates unique
    # by construction, so the base write skips the dedup window (r14;
    # same reasoning as the r10 append trim)
    store.write(base, assume_unique_coords=True)
    rewrite = (
        base.filter(
            (F.regexp_extract("row_key", r"order#(\d+)", 1).cast("long") % 10 == 0)
            & (F.col("qualifier") == "totalprice")
        )
        .withColumn("ts", F.col("ts") + F.lit(1).cast("long"))
        .withColumn("v_f64", F.col("v_f64") + F.lit(1.0))
    )
    # the rewrite is one cell per %10 order: unique coordinates by
    # construction, so the append skips the dedup window (r10 ask #6)
    store.append(rewrite, assume_unique_coords=True)
    cells_before = store.read().count()
    compaction_worker(store, max_deltas=1)
    deleted = gc_worker(store, now_nanos=1)
    after = store.read()
    # ONE pass for both post-GC observables (was two jobs): group sizes
    # carry the total cell count and the per-coordinate version maximum
    row = (
        after.groupBy("row_key", "family", "qualifier")
        .count()
        .agg(F.sum("count").alias("n"), F.max("count").alias("mx"))
        .collect()[0]
    )
    cells_after, max_versions = int(row["n"]), int(row["mx"])
    store.vacuum(keep_last=1)
    chain_len = len(store._chain_dirs())
    assert store.read().first() is not None  # still readable post-vacuum
    return spark.createDataFrame(
        [(cells_before, cells_after, deleted, int(max_versions), chain_len)],
        "cells_before long, cells_after long, deleted_cells long, "
        "max_versions_after long, chain_len_after_vacuum int",
    )


@q(
    "wc_table_lifecycle",
    "WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_orders FROM orders "
    "WHERE o_orderkey % 7 = 0) "
    "SELECT 'meta,o' AS families_after_reopen, "
    "CAST(2 AS INT) AS meta_version_limit, "
    "n_orders AS row_count, n_orders * 6 AS cell_count, "
    "n_orders * 5 AS cells_o, n_orders AS cells_meta FROM n",
)
def wc_table_lifecycle(spark, sf_dir):
    """Table create / family create / recovery end-to-end, oracle-pinned
    (S6 + S7 + S10; reference Smoltable::open + create_column_families,
    smoltable/src/table/mod.rs:107-165,260-297): open a fresh table,
    create families in TWO calls (the manifest merge path), bulk-write
    the orders melt into ``o`` plus one ``meta:src`` cell per row as a
    second snapshot, then REOPEN by path — a brand-new facade whose only
    state is the on-disk manifest + chain (recovery, mod.rs:205-243
    load_locality_groups analog). Every returned observable is read
    through the reopened handle and derived from the orders table by the
    oracle: surviving family names and the ``meta`` version_limit prove
    the manifest round-trip; row/cell/per-family counts prove the data
    chain (base + delta) is fully visible after reopen."""
    from smoltable_spark.table import Smoltable

    path = scratch_dir("smoltable_lifecycle_") + "/tbl"
    t = Smoltable.open(spark, path)
    t.create_column_families([ColumnFamilyDef("o")])
    t.create_column_families([ColumnFamilyDef("meta", version_limit=2)])
    # key_mod=7 subsample (VERDICT r8 ask #7): manifest round-trip and
    # post-reopen visibility are size-independent invariants.
    base = orders_cells(spark, sf_dir, key_mod=7)
    # unique coordinates by melt construction: skip the dedup window (r14)
    t.store.write(base, assume_unique_coords=True)
    meta = (
        base.filter(F.col("qualifier") == "orderstatus")
        .withColumn("family", F.lit("meta"))
        .withColumn("qualifier", F.lit("src"))
    )
    t.store.append(meta)

    t2 = Smoltable.open(spark, path)  # recovery: manifest + chain only
    fams = t2.column_families()
    families_csv = ",".join(sorted(f.name for f in fams))
    meta_vl = {f.name: f.version_limit for f in fams}["meta"]
    counts = t2.count().collect()[0]
    per_fam = {
        r["family"]: r["cnt"]
        for r in t2.store.read().groupBy("family").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert t2.disk_space_usage() > 0 and t2.segment_count() >= 2
    return spark.createDataFrame(
        [(
            families_csv,
            int(meta_vl),
            counts["row_count"],
            counts["cell_count"],
            per_fam["o"],
            per_fam["meta"],
        )],
        "families_after_reopen string, meta_version_limit int, "
        "row_count long, cell_count long, cells_o long, cells_meta long",
    )


@q(
    "wc_store_changes_since",
    "WITH k AS (SELECT o_orderkey, o_totalprice FROM orders "
    "WHERE o_orderkey % 10 = 0) "
    "SELECT concat('order#', lpad(CAST(o_orderkey AS VARCHAR), 12, '0')) "
    "AS row_key, 'totalprice' AS qualifier, CAST(1 AS BIGINT) AS ts, "
    "CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 2.0 "
    "ELSE o_totalprice + 1.0 END AS v_f64 FROM k",
)
def wc_store_changes_since(spark, sf_dir):
    """Incremental CDC read (sources/store.py::read_changes — the
    O(changes) consumption pattern a 100 TB pipeline uses instead of
    rescanning): base write of the orders melt, then TWO delta appends —
    every orderkey % 10 == 0 rewrites ``totalprice`` to +1 at ts=1, then
    every % 20 == 0 rewrites the SAME coordinate again to +2.
    ``read_changes(since_version=1)`` must return exactly the changed
    coordinates with within-range LSM shadowing applied (+2 where the
    second delta superseded the first) and never touch the base leg
    files; the oracle derives the whole feed from orders."""
    from smoltable_spark.sources.store import CellStore

    store = CellStore(spark, scratch_dir("smoltable_cdc_"))
    store.save_families([ColumnFamilyDef("o")])
    base = orders_cells(spark, sf_dir)
    # unique coordinates by melt construction: skip the dedup window (r14)
    v1 = store.write(base, assume_unique_coords=True)
    key_num = F.regexp_extract("row_key", r"order#(\d+)", 1).cast("long")
    tp = base.filter(F.col("qualifier") == "totalprice")
    d1 = (
        tp.filter(key_num % 10 == 0)
        .withColumn("ts", F.lit(1).cast("long"))
        .withColumn("v_f64", F.col("v_f64") + F.lit(1.0))
    )
    store.append(d1)
    d2 = (
        tp.filter(key_num % 20 == 0)
        .withColumn("ts", F.lit(1).cast("long"))
        .withColumn("v_f64", F.col("v_f64") + F.lit(2.0))
    )
    store.append(d2)
    return store.read_changes(since_version=v1).select(
        "row_key", "qualifier", "ts", "v_f64"
    )


@q(
    "wc_minor_compact",
    "WITH s AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders "
    "           WHERE o_orderkey % 7 = 0), "
    "agg AS (SELECT CAST(count(*) AS BIGINT) AS n, "
    "  CAST(count(*) FILTER (WHERE k % 9 = 0) AS BIGINT) AS n9, "
    "  CAST(count(*) FILTER (WHERE k % 10 = 0) AS BIGINT) AS n10, "
    "  CAST(sum(round((CASE WHEN k % 10 = 0 THEN p + 3 "
    "                       WHEN k % 18 = 0 THEN p + 2 "
    "                       WHEN k % 9 = 0 THEN p + 1 "
    "                       ELSE p END) * 100)) AS BIGINT) AS cents "
    "  FROM s) "
    "SELECT 'base,delta,delta,minor,delta' AS kinds_csv, "
    "  '1,4,5' AS legs_csv, "
    "  CAST(2 AS INT) AS folds_from, CAST(3 AS INT) AS folds_through, "
    "  n * 5 + n9 + n10 AS n_cells, "
    "  cents AS visible_price_cents, "
    "  n9 + n10 AS changes_since_base, "
    "  n10 AS changes_since_fold, "
    "  CAST(3 AS INT) AS dirs_after_vacuum, "
    "  n * 5 + n9 + n10 AS n_cells_after_vacuum "
    "FROM agg",
)
def wc_minor_compact(spark, sf_dir):
    """Tiered (minor) compaction end-to-end, oracle-pinned (round 9):
    ``compact()`` answers every delta pile-up with an O(table) base
    rewrite — unaffordable at 100 TB. ``minor_compact``
    (sources/store.py) folds ONLY the trailing run of delta legs into
    one **minor** leg (O(changes), base untouched), recording its
    ``(from, through)`` range in a ``_FOLDS`` marker; the chain resolver
    ``_legs_of`` supersedes exactly that range (fjall folds L0 segments
    tier-wise the same way before a levelled rewrite,
    smoltable/src/table/mod.rs:156-165).

    The row pins every observable against orders-derived oracle math
    (key_mod=7 input subsample; %9 / %18 / %10 rewrite classes):

    - chain shape: commit kinds, resolved legs, the folds range;
    - read() equivalence: total multi-version cell count and the
      newest-version totalprice sum in cents — the fold preserved
      BOTH in-fold shadowing (the %18 leg beat the %9 leg at the same
      coordinate) and cross-leg order (the post-fold delta shadows the
      minor);
    - read_changes stays O(changes) ACROSS the fold: since=base
      substitutes the minor for its folded deltas (same bytes, fewer
      files), since=fold-version sees only the new delta;
    - vacuum() reclaims the superseded delta dirs (needed-set retention
      over ``_legs_of``) while the snapshot keeps reading identically.
    """
    from smoltable_spark.sources.store import CellStore

    store = CellStore(spark, scratch_dir("smoltable_minor_"))
    store.save_families([ColumnFamilyDef("o")])
    base = orders_cells(spark, sf_dir, key_mod=7)
    # unique coordinates by melt construction: skip the dedup window (r14)
    v1 = store.write(base, assume_unique_coords=True)
    key_num = F.regexp_extract("row_key", r"order#(\d+)", 1).cast("long")
    tp = base.filter(F.col("qualifier") == "totalprice")
    # one cell per matching order row: coordinates unique by
    # construction, so each append skips the dedup window (r10 ask #6
    # trim — the shuffle would find nothing to drop; compact() makes
    # the same call for the same reason)
    store.append(
        tp.filter(key_num % 9 == 0)
        .withColumn("ts", F.lit(1).cast("long"))
        .withColumn("v_f64", F.col("v_f64") + F.lit(1.0)),
        assume_unique_coords=True,
    )
    store.append(
        tp.filter(key_num % 18 == 0)
        .withColumn("ts", F.lit(1).cast("long"))
        .withColumn("v_f64", F.col("v_f64") + F.lit(2.0)),
        assume_unique_coords=True,
    )
    v_minor = store.minor_compact()
    store.append(
        tp.filter(key_num % 10 == 0)
        .withColumn("ts", F.lit(2).cast("long"))
        .withColumn("v_f64", F.col("v_f64") + F.lit(3.0)),
        assume_unique_coords=True,
    )
    cur = store.current_version()
    kinds_csv = ",".join(store._kind(v) for v in range(1, cur + 1))
    legs_csv = ",".join(str(v) for v in store._legs_of(cur))
    folds = store._folds_of(v_minor)

    def observables():
        # ONE pass for both observables (was two jobs): per-coordinate
        # groups carry the total cell count (sum of group sizes) and the
        # newest-version totalprice (max ts struct) simultaneously
        snap = store.read()
        row = (
            snap.groupBy("row_key", "qualifier")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max(F.struct("ts", F.col("v_f64").alias("v"))).alias("m"),
            )
            .agg(
                F.sum("n").alias("n_cells"),
                F.sum(
                    F.when(
                        F.col("qualifier") == "totalprice",
                        F.round(F.col("m.v") * 100).cast("long"),
                    )
                ).alias("c"),
            )
            .collect()[0]
        )
        return int(row["n_cells"]), int(row["c"])

    n_cells, cents = observables()
    changes_base = store.read_changes(v1).count()
    changes_fold = store.read_changes(v_minor).count()
    store.vacuum(keep_last=1)
    # count leg dirs on disk: root legs, and minor legs under .minor/
    dirs = sum(
        1
        for root in (store.path, os.path.join(store.path, store._MINOR_DIR))
        for d in os.listdir(root)
        if store._dirname_version(d) is not None
    )
    n_cells2, cents2 = observables()
    assert cents2 == cents
    return spark.createDataFrame(
        [(
            kinds_csv, legs_csv, folds[0], folds[1], n_cells, cents,
            changes_base, changes_fold, dirs, n_cells2,
        )],
        "kinds_csv string, legs_csv string, folds_from int, "
        "folds_through int, n_cells long, visible_price_cents long, "
        "changes_since_base long, changes_since_fold long, "
        "dirs_after_vacuum int, n_cells_after_vacuum long",
    )


def _orders_value_index(spark, sf_dir):
    """Build-once secondary value index over the probed orders CellStore
    (per session and sf dir; the lookup checks the store version it was
    built for)."""
    from smoltable_spark.sources import index as vindex

    store = _orders_store(spark, sf_dir)
    _ensure_probe(spark, store)

    def build():
        path = scratch_dir("smoltable_vidx_") + "/idx"
        vindex.build_value_index(store, path, families=["o"])
        return path

    return store, build_once(spark, sf_dir, "orders_value_index", build)


@q(
    "wc_value_index_lookup",
    "SELECT concat('order#', lpad(CAST(o_orderkey AS VARCHAR), 12, '0')) "
    "AS row_key, o_totalprice AS totalprice FROM orders "
    "WHERE o_orderpriority = '1-URGENT'",
)
def wc_value_index_lookup(spark, sf_dir):
    """Secondary-index point lookup (sources/index.py): the reference's
    only access path is the row key — value predicates are full scans.
    The value index inverts (family, qualifier, val) → row_key with a
    partitionBy(family, qualifier) layout, so this lookup prunes to the
    orderpriority directory (PartitionFilters) and pushes val = URGENT
    into parquet (PushedFilters + min/max skipping on the val-sorted
    files) — O(matching rows), not O(table). The matched keys then drive
    a broadcast semi-join fetch of the totalprice cells, the multi_get
    serving path. Plan pinned by
    tests/test_plans.py::test_value_index_lookup_prunes."""
    from smoltable_spark.sources.index import lookup_rows_by_value

    store, idx_path = _orders_value_index(spark, sf_dir)
    keys = lookup_rows_by_value(
        spark, idx_path, "o", "orderpriority", "1-URGENT",
        expect_store_version=store.current_version(),
    )
    cells = store.read_for_filter(ColumnFilter.key("o:totalprice"))
    return (
        cells.filter(
            (F.col("family") == "o") & (F.col("qualifier") == "totalprice")
        )
        .join(F.broadcast(keys), "row_key")
        .select("row_key", F.col("v_f64").alias("totalprice"))
    )


@q(
    "wc_merge_upsert",
    "WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_orders, "
    "CAST(count(*) FILTER (WHERE o_orderkey % 3 = 0) AS BIGINT) AS n3, "
    "CAST(count(*) FILTER (WHERE o_orderkey % 6 = 0) AS BIGINT) AS n6 "
    "FROM orders WHERE o_orderkey % 7 = 0) "
    "SELECT n3 * 2 AS n_batch, n3 AS n_insert, n6 AS n_update, "
    "n3 - n6 AS n_noop, n_orders * 5 + n3 + n6 AS cells_total_after, "
    "n_orders * 5 + n3 AS visible_cells_after FROM n",
)
def wc_merge_upsert(spark, sf_dir):
    """MERGE INTO (upsert) semantics over the cell store, end-to-end and
    oracle-pinned: an incoming batch is classified against the CURRENT
    VISIBLE cell per coordinate into insert / update / no-op, only the
    first two are appended (write-avoidance: a no-op MERGE writes
    nothing, so repeated idempotent loads don't grow the store), and the
    post-merge store is audited (total versions, visible coordinates).

    The batch: for every orderkey % 3 == 0, one totalprice cell on the
    EXISTING row (value bumped when % 2 == 0 -> update; unchanged
    otherwise -> no-op) and one cell on a brand-new row key -> insert.
    Every reported count is derived from the orders table by the oracle
    (n3/n6 modular counts), not recorded from the run.

    Scale shape: classification is ONE left join of the batch against
    the latest-version view on the coordinate key (both sides hash on
    the same key the store is laid out by); the append is O(applied),
    and the no-op class never touches disk. This is the Delta/Hudi-style
    CDC merge expressed over the LSM chain the engine already has."""
    from pyspark.sql import Window as _W

    from smoltable_spark.sources.store import CellStore

    store = CellStore(spark, scratch_dir("smoltable_merge_"))
    store.save_families([ColumnFamilyDef("o")])
    # key_mod=7 subsample (VERDICT r8 ask #7): 7 is coprime to the %3
    # upsert class and the %2 bump class, so insert/update/no-op all
    # stay populated at every SF.
    base = orders_cells(spark, sf_dir, key_mod=7)
    # unique coordinates by melt construction: skip the dedup window (r14)
    store.write(base, assume_unique_coords=True)
    key = F.regexp_extract("row_key", r"order#(\d+)", 1).cast("long")
    src = base.filter((F.col("qualifier") == "totalprice") & (key % 3 == 0))
    upserts = src.withColumn("ts", F.col("ts") + F.lit(1).cast("long")).withColumn(
        "v_f64",
        F.when(key % 2 == 0, F.col("v_f64") + F.lit(1.0)).otherwise(F.col("v_f64")),
    )
    inserts = src.withColumn(
        "row_key", F.concat(F.col("row_key"), F.lit("#new"))
    ).withColumn("ts", F.col("ts") + F.lit(1).cast("long"))
    batch = upserts.unionByName(inserts)
    w = _W.partitionBy("row_key", "family", "qualifier").orderBy(F.col("ts").desc())
    visible = (
        store.read()
        # every batch row carries qualifier='totalprice', so only those
        # coordinate partitions can match the classification join —
        # filter BEFORE the window (pushes into the parquet scan, ~1/5
        # of the window volume; whole partitions drop, so ranking
        # within the surviving ones is unchanged) (r13, guide §2.3)
        .filter(F.col("qualifier") == "totalprice")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "row_key", "family", "qualifier", F.col("v_f64").alias("_cur")
        )
    )
    # the three class counts, the batch size and the append all consume
    # the classification join: the store scan and latest-version window
    # run once
    classed = materialize(
        batch.join(visible, ["row_key", "family", "qualifier"], "left"), "corpus"
    )
    ins = F.col("_cur").isNull()
    upd = F.col("_cur").isNotNull() & (F.col("v_f64") != F.col("_cur"))
    noop = F.col("_cur").isNotNull() & (F.col("v_f64") == F.col("_cur"))
    counts = classed.agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(ins.cast("long")).alias("n_insert"),
        F.sum(upd.cast("long")).alias("n_update"),
        F.sum(noop.cast("long")).alias("n_noop"),
    ).collect()[0]
    applied = classed.filter(ins | upd).drop("_cur")
    store.append(applied)
    # ONE pass for both audit scalars (r13, guide §1.2, the
    # wc_minor_compact observables trick): per-coordinate group sizes
    # carry the total version count (sum) and the visible-coordinate
    # count (group count) simultaneously — was a count job PLUS a
    # windowed row_number pass over a second chain read
    audit = (
        store.read()
        .groupBy("row_key", "family", "qualifier")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(
            F.sum("_n").alias("cells_total"),
            F.count(F.lit(1)).alias("visible_after"),
        )
        .collect()[0]
    )
    cells_total = int(audit["cells_total"])
    visible_after = int(audit["visible_after"])
    return spark.createDataFrame(
        [
            (
                int(counts["n_batch"]),
                int(counts["n_insert"]),
                int(counts["n_update"]),
                int(counts["n_noop"]),
                cells_total,
                visible_after,
            )
        ],
        "n_batch long, n_insert long, n_update long, n_noop long, "
        "cells_total_after long, visible_cells_after long",
    )


@q(
    "wc_scd2_intervals",
    "WITH k AS (SELECT 'order#' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0')"
    "                 AS row_key, o_orderkey AS okey, "
    "                 CAST(round(o_totalprice * 100) AS BIGINT) AS c "
    "          FROM orders) "
    "SELECT row_key, CAST(0 AS BIGINT) AS valid_from, "
    "       CAST(CASE WHEN okey % 10 = 0 THEN 1 END AS BIGINT) AS valid_to, "
    "       CAST(CASE WHEN okey % 10 = 0 THEN 0 ELSE 1 END AS BIGINT) "
    "           AS is_current, c AS value_cents "
    "FROM k "
    "UNION ALL "
    "SELECT row_key, CAST(1 AS BIGINT), CAST(NULL AS BIGINT), "
    "       CAST(1 AS BIGINT), c + 100 "
    "FROM k WHERE okey % 10 = 0",
)
def wc_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension (type 2) intervals DERIVED from the
    store's version history — the temporal-table view a warehouse
    expects, materialized straight from MVCC cells: base write at ts=0,
    a price-correction delta at ts=1 for every orderkey % 10 == 0, then
    each totalprice coordinate's versions become validity intervals
    (valid_from = version ts, valid_to = next version's ts via lead(),
    NULL = current). The oracle derives every interval from the orders
    table, so the store's version chain provably round-trips into SCD2
    semantics — no interval bookkeeping is stored anywhere; it falls out
    of the LSM versions.

    Scale: one window over the totalprice coordinate partitions
    (per-coordinate version counts are tiny and bounded by the family's
    version_limit policy); the store read itself is the pushed-filter
    scan path."""
    from pyspark.sql import Window as _W

    from smoltable_spark.sources.store import CellStore

    store = CellStore(spark, scratch_dir("smoltable_scd2_"))
    store.save_families([ColumnFamilyDef("o")])
    base = orders_cells(spark, sf_dir)
    # unique coordinates by melt construction: skip the dedup window (r14)
    store.write(base, assume_unique_coords=True)
    key = F.regexp_extract("row_key", r"order#(\d+)", 1).cast("long")
    delta = (
        base.filter((F.col("qualifier") == "totalprice") & (key % 10 == 0))
        .withColumn("ts", F.col("ts") + F.lit(1).cast("long"))
        .withColumn("v_f64", F.col("v_f64") + F.lit(1.0))
    )
    store.append(delta)
    tp = store.read().filter(F.col("qualifier") == "totalprice")
    w = _W.partitionBy("row_key", "family", "qualifier").orderBy("ts")
    return tp.select(
        "row_key",
        F.col("ts").cast("long").alias("valid_from"),
        F.lead("ts").over(w).cast("long").alias("valid_to"),
        F.lead("ts").over(w).isNull().cast("long").alias("is_current"),
        F.round(F.col("v_f64") * 100).cast("long").alias("value_cents"),
    )


@q(
    "wc_ingest_json_wire",
    """
    WITH d AS (
        SELECT 'doc#' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS row_key,
               doc_id, lang, n_chars
        FROM documents
    )
    SELECT row_key, 'meta' AS family, 'lang' AS qualifier,
           CAST(doc_id AS BIGINT) AS ts, 'string' AS vtype,
           lang AS v_str, CAST(NULL AS BOOLEAN) AS v_bool,
           CAST(NULL AS BIGINT) AS v_i64, CAST(NULL AS DOUBLE) AS v_f64
    FROM d
    UNION ALL
    SELECT row_key, 'meta', 'n_chars', CAST(42 AS BIGINT), 'i64',
           NULL, NULL, CAST(n_chars AS BIGINT), NULL
    FROM d
    UNION ALL
    SELECT row_key, 'meta', 'long', CAST(doc_id AS BIGINT), 'boolean',
           NULL, n_chars > 200, NULL, NULL
    FROM d
    UNION ALL
    SELECT row_key, 'score', '', CAST(42 AS BIGINT), 'f64',
           NULL, NULL, NULL, CAST(n_chars AS DOUBLE) / 4.0
    FROM d
    """,
)
def wc_ingest_json_wire(spark, sf_dir):
    """DISTRIBUTED wire-format ingest (S1's REST body, executor-side):
    render one reference-shaped JSON write batch per document with
    ``to_json`` (null variants dropped, exactly like the serde enum),
    then parse the raw strings back through
    sources/wire.py::cells_from_json_wire — from_json → explode →
    column-key split → typed-variant dispatch → strict whole-batch
    validation (reference server/src/api/write.rs:23-132 rejects the
    request on any malformed cell). Four cells per row cover string /
    i64 / boolean / f64 variants, explicit and absent timestamps (the
    absent ones take the deterministic default_ts=42, writer.rs:28-33).
    The oracle recomputes every typed cell relationally, so a hash match
    pins render → wire parse → dispatch end to end.

    100 TB shape: ingest parallelism is executor-count (a JSON body
    column from Kafka/landing buckets parses where it lands, no
    driver-side loop like sources/writer.py::rows_to_cells); the strict
    gate is ONE count aggregate over the same scan."""
    from smoltable_spark.sources.relational import load_table
    from smoltable_spark.sources.wire import cells_from_json_wire

    docs = load_table(spark, sf_dir, "documents")
    nullv = {
        "string": F.lit(None).cast("string"),
        "boolean": F.lit(None).cast("boolean"),
        "byte": F.lit(None).cast("smallint"),
        "i32": F.lit(None).cast("int"),
        "i64": F.lit(None).cast("long"),
        "f32": F.lit(None).cast("float"),
        "f64": F.lit(None).cast("double"),
    }

    def value(**kw):
        return F.struct(
            *[kw.get(t, nullv[t]).alias(t) if t in kw else nullv[t].alias(t)
              for t in nullv]
        )

    def cell(ck, val, ts=None):
        return F.struct(
            F.lit(ck).alias("column_key"),
            (F.lit(None).cast("long") if ts is None else ts.cast("long"))
            .alias("timestamp"),
            val.alias("value"),
        )

    rk = F.concat(
        F.lit("doc#"), F.lpad(F.col("doc_id").cast("string"), 8, "0")
    )
    item = F.struct(
        rk.alias("row_key"),
        F.array(
            cell("meta:lang", value(string=F.col("lang")), ts=F.col("doc_id")),
            cell("meta:n_chars", value(i64=F.col("n_chars"))),
            cell(
                "meta:long",
                value(boolean=F.col("n_chars") > 200),
                ts=F.col("doc_id"),
            ),
            cell("score:", value(f64=F.col("n_chars").cast("double") / 4.0)),
        ).alias("cells"),
    )
    bodies = docs.select(
        F.to_json(F.struct(F.array(item).alias("items"))).alias("body")
    )
    cells = cells_from_json_wire(bodies, default_ts=42, strict=True)
    return cells.select(
        "row_key", "family", "qualifier", "ts", "vtype",
        "v_str", "v_bool", "v_i64", "v_f64",
    )


# ---------------------------------------------------------------------------
# Z-ordered CellStore scan (round 7, VERDICT r6 ask #5)

#: the 2-D box: user buckets {1..5} × day buckets {2..4} ⟹ 15 of the 64
#: Morton partitions (same box shape rel_events_zorder_prune pins on the
#: dedicated events store — here it prunes the CellStore itself)
_Z_USER_BUCKETS = [1, 2, 3, 4, 5]
_Z_DAY_BUCKETS = [2, 3, 4]
_Z_DAY_NS = 86_400_000_000_000


def _events_cells_seq(spark, sf_dir, mod: int | None = None):
    """events_cells plus an explicit ``_seq`` write-sequence column
    (= event_id): two events of the same (type, user) whose timestamps
    collide after µs truncation map to ONE cell coordinate, and without
    a seq the _dedup_coords winner would be file-order-dependent — the
    exact situation store.py's ordering contract says MUST pass
    ``seq_col``. With _seq = event_id the survivor is deterministically
    the max-event_id duplicate, which the DuckDB oracles mirror with a
    ``row_number() OVER (PARTITION BY row_key, ts ORDER BY event_id
    DESC)`` dedup CTE, so the pin holds at any scale (no collisions
    exist at the tested SFs; this closes the latent scale hole)."""
    from smoltable_spark.sources.relational import load_table

    ev = load_table(spark, sf_dir, "events")
    if mod is not None:
        # deterministic, SF-proportional subsample (VERDICT r8 ask #7):
        # the per-call lifecycle stores don't need the full melt to prove
        # their invariants — event_id is uniform across event types, so
        # every type keeps ~1/5 mass (>= the 1/8 the re-bucketing pins
        # need). Oracles mirror with the same modular predicate.
        ev = ev.filter(F.col("event_id") % mod == 0)
    return ev.select(
        F.concat(
            F.col("event_type"), F.lit("#user#"),
            F.lpad(F.col("user_id").cast("string"), 6, "0"),
        ).alias("row_key"),
        F.lit("value").alias("family"),
        F.lit("").alias("qualifier"),
        F.expr("(ts div 1000) * 1000").cast("long").alias("ts"),
        F.lit("f64").alias("vtype"),
        F.lit(None).cast("string").alias("v_str"),
        F.lit(None).cast("boolean").alias("v_bool"),
        F.lit(None).cast("short").alias("v_byte"),
        F.lit(None).cast("int").alias("v_i32"),
        F.lit(None).cast("long").alias("v_i64"),
        F.lit(None).cast("float").alias("v_f32"),
        F.col("value").cast("double").alias("v_f64"),
        F.col("event_id").cast("long").alias("_seq"),
    )


#: shared oracle CTEs mirroring _events_cells_seq + _dedup_coords: the
#: melted key/ts, then one row per (row_key, ts) coordinate keeping the
#: max-event_id duplicate (the engine's seq_col winner)
_Z_CELLS_SQL = """
    k AS (
      SELECT event_type, user_id, event_id, value,
             event_type || '#user#' || lpad(CAST(user_id AS VARCHAR), 6, '0')
                 AS row_key,
             epoch_ns(ts) AS ts
      FROM events
    ), d AS (
      SELECT * FROM (
        SELECT k.*, row_number() OVER (PARTITION BY row_key, ts
                                       ORDER BY event_id DESC) AS _dr
        FROM k)
      WHERE _dr = 1
    )"""

#: mod-4 variant mirroring ``_events_cells_seq(..., mod=4)`` — the
#: per-call lifecycle stores (compact cycle, re-bucketing) subsample
#: their input (VERDICT r8 ask #7)
_Z_CELLS_MOD4_SQL = _Z_CELLS_SQL.replace(
    "FROM events", "FROM events WHERE event_id % 4 = 0"
)


def _events_zstore(spark, sf_dir):
    """Build-once Z-ordered CellStore of the events melt: base snapshots
    partition by (lg, zb) where zb interleaves (user bucket, day bucket)
    — the cell-table analogue of the reference's inverted-ts key
    component (smoltable/src/cell.rs:168-182 keys ``row:cf:cq:!ts`` so
    "newest versions of a key range" skip blocks; here the skip is
    metadata-level partition pruning)."""
    from smoltable_spark.sources.store_layout import ZorderCellStore

    def build():
        store = ZorderCellStore(
            spark,
            scratch_dir("smoltable_zstore_") + "/store",
            a_bucket=lambda: F.substring(F.col("row_key"), -6, 6).cast("long")
            % 8,
            b_bucket=lambda: F.expr(f"(ts div {_Z_DAY_NS}) % 8"),
            bits=3,
        )
        store.save_families([ColumnFamilyDef("value")])
        store.write(_events_cells_seq(spark, sf_dir), seq_col="_seq")
        return store

    return build_once(spark, sf_dir, "events_zstore", build)


@q(
    "wc_store_zorder_scan",
    f"""
    WITH {_Z_CELLS_SQL}
    SELECT split_part(row_key, '#', 1) AS event_type,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(count(DISTINCT row_key) AS BIGINT) AS n_series,
           CAST(sum(round(value * 100)) AS BIGINT) AS total_cents,
           CAST(min(ts) AS BIGINT) AS min_ts,
           CAST(max(ts) AS BIGINT) AS max_ts,
           CAST({len(_Z_USER_BUCKETS) * len(_Z_DAY_BUCKETS)} AS INT)
               AS n_parts_read,
           CAST(64 AS INT) AS n_parts_total
    FROM d
    WHERE CAST(right(row_key, 6) AS BIGINT) % 8
          BETWEEN {_Z_USER_BUCKETS[0]} AND {_Z_USER_BUCKETS[-1]}
      AND (ts // {_Z_DAY_NS}) % 8
          BETWEEN {_Z_DAY_BUCKETS[0]} AND {_Z_DAY_BUCKETS[-1]}
    GROUP BY 1
    """,
)
def wc_store_zorder_scan(spark, sf_dir):
    """Z-ORDER partition pruning ON THE CELLSTORE ITSELF (VERDICT r6 ask
    #5): the events melt is written once through ZorderCellStore
    (sources/store_layout.py), whose base snapshots partition by
    (lg, zb) with zb = Morton(user bucket, day bucket). A "key range AND
    time window" scan — 5 user buckets × 3 day buckets — then reads
    exactly 15 of 64 zb partitions: box_scan computes the closed-form
    covering set driver-side (functions/layout.py::zorder_covering) and
    it appears in the plan as a metadata-level ``zb IN (...)`` partition
    filter on the CellStore scan (PLANS.md row; the SURVEY §4 ts_inv
    file-skipping note realized as layout). Residual exact predicates on
    the cell columns keep correctness independent of the covering math;
    n_parts_read/total are the pinned pruning constants (the
    wc_plan_probe pattern). At 100 TB the win is the same as
    Delta/Iceberg Z-ORDER: the scan cost tracks the box volume
    (15/64 ≈ 23%), not the stripe volume a 1-D layout reads (3/8 of
    users or 5/8 of days). Both engine AND oracle derive the user
    bucket from the ROW KEY's last 6 digits (not raw user_id): lpad
    truncates ids past 6 digits, so a raw-id oracle would silently
    diverge at ~1.5M users — key-derived on both sides is truncation-
    consistent at any scale. The store is written with an explicit
    _seq (= event_id) so µs-collision dedup is deterministic and the
    oracle's dedup CTE (_Z_CELLS_SQL) mirrors it exactly."""
    store = _events_zstore(spark, sf_dir)
    cells = store.box_scan(
        a_values=_Z_USER_BUCKETS, b_values=_Z_DAY_BUCKETS
    )
    user_b = F.substring(F.col("row_key"), -6, 6).cast("long") % 8
    day_b = F.expr(f"(ts div {_Z_DAY_NS}) % 8")
    return (
        cells.filter(
            user_b.between(_Z_USER_BUCKETS[0], _Z_USER_BUCKETS[-1])
            & day_b.between(_Z_DAY_BUCKETS[0], _Z_DAY_BUCKETS[-1])
        )
        .groupBy(F.split(F.col("row_key"), "#").getItem(0).alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.countDistinct("row_key").alias("n_series"),
            F.sum(F.round(F.col("v_f64") * 100).cast("long")).alias(
                "total_cents"
            ),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .select(
            "event_type",
            "n_cells",
            F.col("n_series").cast("long").alias("n_series"),
            "total_cents",
            "min_ts",
            "max_ts",
            F.lit(len(_Z_USER_BUCKETS) * len(_Z_DAY_BUCKETS))
            .cast("int")
            .alias("n_parts_read"),
            F.lit(64).cast("int").alias("n_parts_total"),
        )
    )


#: the three advisor shapes: (name, user buckets, day buckets). "small"
#: is the wc_store_zorder_scan box, "stripe" one user bucket across all
#: days, "full" the whole space — where pruning buys nothing and the
#: advisor must say so.
_ADVISOR_SHAPES = [
    ("box_small", _Z_USER_BUCKETS, _Z_DAY_BUCKETS),
    ("stripe_user3", [3], list(range(8))),
    ("full_space", list(range(8)), list(range(8))),
]


def _advisor_shape_sql(name: str, a: list, b: list) -> str:
    a_in = ", ".join(str(x) for x in a)
    b_in = ", ".join(str(x) for x in b)
    return f"""
    SELECT '{name}' AS shape,
           CAST(count(DISTINCT CASE WHEN ub IN ({a_in}) AND db IN ({b_in})
                      THEN ub * 8 + db END) AS INT) AS n_parts_read,
           CAST(count(DISTINCT ub * 8 + db) AS INT) AS n_parts_total,
           CAST(sum(CASE WHEN ub IN ({a_in}) AND db IN ({b_in})
                    THEN 1 ELSE 0 END) AS BIGINT) AS rows_box,
           CAST(count(*) AS BIGINT) AS rows_total,
           CASE WHEN sum(CASE WHEN ub IN ({a_in}) AND db IN ({b_in})
                         THEN 1 ELSE 0 END) < count(*)
                THEN 'zorder_box' ELSE 'flat_scan' END AS choice,
           sum(CASE WHEN ub IN ({a_in}) AND db IN ({b_in})
               THEN 1 ELSE 0 END) / count(*) AS read_fraction
    FROM bucketed
    """


@q(
    "wc_scan_advisor",
    "WITH "
    + _Z_CELLS_SQL.lstrip()
    + """,
    bucketed AS (
      SELECT CAST(right(row_key, 6) AS BIGINT) % 8 AS ub,
             (ts // 86400000000000) % 8 AS db
      FROM d
    )
    """
    + "\nUNION ALL\n".join(
        _advisor_shape_sql(name, a, b) for name, a, b in _ADVISOR_SHAPES
    ),
)
def wc_scan_advisor(spark, sf_dir):
    """COST-BASED SCAN ADVISOR (round 13, VERDICT r12 ask #8): choose
    flat-vs-Z-order reads from STORE STATS alone. For each of three box
    shapes over the Z-ordered events store —

    - ``box_small``  (5 user × 3 day buckets → 15/64 partitions),
    - ``stripe_user3`` (1 × 8 → 8/64),
    - ``full_space``  (8 × 8 — pruning reads everything anyway)

    — ``plans/advisor.py::zorder_box_costs`` sums parquet FOOTER row
    counts per ``zb`` partition (no data pages, no Spark job) and picks
    the cheaper strategy: the covering-partition read when it is
    strictly cheaper, the flat scan when the box spans the space (same
    rows, fewer larger reads — the task-count tie-break object stores
    want). The row asserts the decision is HONEST: the advised
    DataFrame's actual count equals the advertised cost for the pruned
    shapes. Bucketing is modular (no sampling), so every cost integer
    is derivable from the raw table — the oracle recomputes partitions,
    rows, choice and read fraction per shape in SQL and must match
    exactly. 100 TB: one footer walk (amortizable via the chain
    manifest) vs the cost of scheduling 64 pruned-partition tasks to
    read 95 % of the table — the file-skipping "should I even prune"
    decision Delta/Iceberg make from table-level stats."""
    from smoltable_spark.plans.advisor import advise_box_scan, zorder_box_costs

    store = _events_zstore(spark, sf_dir)
    rows = []
    for name, a, b in _ADVISOR_SHAPES:
        df, costs = advise_box_scan(store, a, b)
        if costs["choice"] == "zorder_box":
            # the advertised cost must be what the advised plan reads
            assert df.count() == costs["rows_box"], (name, costs)
        rows.append(
            (
                name,
                costs["n_parts_read"],
                costs["n_parts_total"],
                costs["rows_box"],
                costs["rows_total"],
                costs["choice"],
                costs["read_fraction"],
            )
        )
    return spark.createDataFrame(
        rows,
        "shape string, n_parts_read int, n_parts_total int, "
        "rows_box long, rows_total long, choice string, "
        "read_fraction double",
    )


def _events_rzstore(spark, sf_dir):
    """Build-once RANGE-bucketed Z-ordered CellStore of the events melt:
    key buckets come from a persisted boundaries sidecar (estimated once
    from the first base batch), so row-key RANGE predicates — not just
    residue boxes — prune the zb partitions."""
    from smoltable_spark.sources.store_layout import RangeZorderCellStore

    def build():
        store = RangeZorderCellStore(
            spark,
            scratch_dir("smoltable_rzstore_") + "/store",
            b_bucket=lambda: F.expr(f"(ts div {_Z_DAY_NS}) % 8"),
            bits=3,
        )
        store.save_families([ColumnFamilyDef("value")])
        store.write(_events_cells_seq(spark, sf_dir), seq_col="_seq")
        return store

    return build_once(spark, sf_dir, "events_rzstore", build)


#: the range scan's bounds: every click# and error# series key
_ZR_LO = "click#"
_ZR_HI = "error#~"


@q(
    "wc_store_zorder_range",
    f"""
    WITH {_Z_CELLS_SQL}
    SELECT split_part(row_key, '#', 1) AS event_type,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(count(DISTINCT row_key) AS BIGINT) AS n_series,
           CAST(sum(round(value * 100)) AS BIGINT) AS total_cents,
           CAST(min(ts) AS BIGINT) AS min_ts,
           CAST(max(ts) AS BIGINT) AS max_ts
    FROM d
    WHERE row_key >= '{_ZR_LO}' AND row_key < '{_ZR_HI}'
      AND (ts // {_Z_DAY_NS}) % 8
          BETWEEN {_Z_DAY_BUCKETS[0]} AND {_Z_DAY_BUCKETS[-1]}
    GROUP BY 1
    """,
)
def wc_store_zorder_range(spark, sf_dir):
    """Row-key RANGE scan with 2-D partition pruning on the CellStore:
    ``lo <= row_key < hi`` (every click/error series) AND a 3-day-bucket
    window. Unlike wc_store_zorder_scan's residue box, the key dimension
    here buckets by RANGE against a persisted boundaries sidecar
    (sources/store_layout.py::RangeZorderCellStore): bucket = #(boundaries
    <= 7-byte key image), estimated once via percentile_approx — no
    global sort at build, and CORRECTNESS NEVER DEPENDS ON THE
    BOUNDARIES: key_range_scan prunes to the bucket interval
    [bucket(lo)..bucket(hi)] × day buckets (a covering superset by
    monotonicity) and always applies the exact residual range predicate,
    so skewed or stale boundaries cost read amplification, never wrong
    answers — the Delta/Iceberg layout-is-advisory contract. The zb IN
    partition filter is pinned in PLANS.md/test_plans; the oracle checks
    the range semantics from the raw table."""
    store = _events_rzstore(spark, sf_dir)
    cells = store.key_range_scan(_ZR_LO, _ZR_HI, b_values=_Z_DAY_BUCKETS)
    day_b = F.expr(f"(ts div {_Z_DAY_NS}) % 8")
    return (
        cells.filter(
            day_b.between(_Z_DAY_BUCKETS[0], _Z_DAY_BUCKETS[-1])
        )
        .groupBy(F.split(F.col("row_key"), "#").getItem(0).alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.countDistinct("row_key").alias("n_series"),
            F.sum(F.round(F.col("v_f64") * 100).cast("long")).alias(
                "total_cents"
            ),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .select(
            "event_type",
            "n_cells",
            F.col("n_series").cast("long").alias("n_series"),
            "total_cents",
            "min_ts",
            "max_ts",
        )
    )


@q(
    "wc_store_zorder_latest",
    f"""
    WITH {_Z_CELLS_SQL}, r AS (
      SELECT row_key, ts, value,
             row_number() OVER (PARTITION BY row_key ORDER BY ts DESC) AS rn
      FROM d
      WHERE row_key >= '{_ZR_LO}' AND row_key < '{_ZR_HI}'
    )
    SELECT row_key, CAST(ts AS BIGINT) AS ts,
           CAST(round(value * 100) AS BIGINT) AS value_cents
    FROM r WHERE rn = 1
    """,
)
def wc_store_zorder_latest(spark, sf_dir):
    """'Newest version per series in a key range' — the exact read the
    reference's inverted-timestamp key component exists to serve
    (smoltable/src/cell.rs:168-182 keys ``row:cf:cq:!ts`` so the first
    LSM hit per coordinate IS the newest): over the range-bucketed
    z-ordered CellStore, the key range prunes to its bucket interval
    ACROSS ALL time buckets (b_values = all 8 — "latest" cannot bound
    time a priori), the residual range pushes to the reader, and the
    newest cell per row key resolves with one max-by-struct aggregate —
    partial map-side, one shuffle on row_key, no window over a global
    sort. 100 TB: cost tracks the key range's share of the table; a 1-D
    time layout would read every partition for this query, so the
    Z-order read here shows the layout does NOT tax latest-reads (same
    stripe as a pure key layout), while box/range scans gained their
    2-D pruning. The store carries _seq = event_id, so coordinate dedup
    is deterministic and post-dedup ts is UNIQUE per row key — the
    max-by-struct pick needs no value tie-break, and the oracle's
    row_number over the dedup CTE is well-defined at any scale (µs ts
    collisions included)."""
    store = _events_rzstore(spark, sf_dir)
    cells = store.key_range_scan(_ZR_LO, _ZR_HI, b_values=list(range(8)))
    newest = (
        cells.groupBy("row_key")
        .agg(
            F.max(F.struct(F.col("ts"), F.col("v_f64").alias("v"))).alias("m")
        )
        .select(
            "row_key",
            F.col("m.ts").alias("ts"),
            F.round(F.col("m.v") * 100).cast("long").alias("value_cents"),
        )
    )
    return newest


@q(
    "wc_store_zorder_compact_cycle",
    f"""
    WITH {_Z_CELLS_MOD4_SQL}
    SELECT CAST(1 AS INT) AS v_base, CAST(2 AS INT) AS v_delta,
           CAST(3 AS INT) AS v_compacted,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CASE WHEN (ts // {_Z_DAY_NS}) % 8 >= 6
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_cells,
           CAST(count(DISTINCT row_key) AS BIGINT) AS n_series,
           CAST(sum(round(value * 100)) AS BIGINT) AS total_cents
    FROM d
    """,
)
def wc_store_zorder_compact_cycle(spark, sf_dir):
    """Full LSM lifecycle ON the Z-ordered store, as a driver row (the
    delta-carry + re-z-order path was pytest-only): a fresh store takes
    a base snapshot of the day-bucket<6 cells (partitioned by lg+zb),
    an O(batch) delta append of the rest (zb carried as a DATA column —
    read() unions legs by name and box_scan's filter still applies via
    row-group stats), then compact() folds both into one re-z-ordered
    base whose zb is a partition dir again. The verified claim: the
    compacted snapshot holds exactly the union (nothing lost at any
    boundary, version numbers deterministic 1/2/3), pinned against the
    raw table through the shared dedup CTE. 100 TB: the delta stays
    O(batch) like a memtable flush; compaction is the one table-size
    write, exactly the reference's levelled fold (mod.rs:156-165), and
    it re-establishes metadata-level 2-D pruning for everything
    ingested since the last fold."""
    from smoltable_spark.sources.store_layout import ZorderCellStore

    cells = _events_cells_seq(spark, sf_dir, mod=4)
    day_b = F.expr(f"(ts div {_Z_DAY_NS}) % 8")
    store = ZorderCellStore(
        spark,
        scratch_dir("smoltable_zcycle_") + "/store",
        a_bucket=lambda: F.substring(F.col("row_key"), -6, 6).cast("long")
        % 8,
        b_bucket=lambda: F.expr(f"(ts div {_Z_DAY_NS}) % 8"),
        bits=3,
    )
    store.save_families([ColumnFamilyDef("value")])
    v_base = store.write(cells.filter(day_b < 6), seq_col="_seq")
    v_delta = store.append(cells.filter(day_b >= 6), seq_col="_seq")
    v_compacted = store.compact()
    out = store.read(version=v_compacted)
    day_out = F.expr(f"(ts div {_Z_DAY_NS}) % 8")
    return out.agg(
        F.lit(v_base).cast("int").alias("v_base"),
        F.lit(v_delta).cast("int").alias("v_delta"),
        F.lit(v_compacted).cast("int").alias("v_compacted"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum((day_out >= 6).cast("long")).alias("n_delta_cells"),
        F.countDistinct("row_key").cast("long").alias("n_series"),
        F.sum(F.round(F.col("v_f64") * 100).cast("long")).alias(
            "total_cents"
        ),
    )


@q(
    "wc_store_zorder_rebucket",
    f"""
    WITH {_Z_CELLS_MOD4_SQL}
    SELECT CAST(1 AS INT) AS v_base, CAST(2 AS INT) AS v_delta,
           CAST(3 AS INT) AS v_compacted,
           CAST(2 AS INT) AS n_boundary_sets,
           CAST(1 AS INT) AS old_version_match,
           (SELECT CAST(count(*) AS BIGINT) FROM d
            WHERE split_part(row_key, '#', 1) = 'error')
               AS scanned_compacted,
           (SELECT CAST(count(*) AS BIGINT) FROM d
            WHERE split_part(row_key, '#', 1)
                  IN ('click', 'error', 'purchase', 'signup'))
               AS scanned_stale,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(count(DISTINCT row_key) AS BIGINT) AS n_series,
           CAST(sum(round(value * 100)) AS BIGINT) AS total_cents,
           CAST(min(ts) AS BIGINT) AS min_ts,
           CAST(max(ts) AS BIGINT) AS max_ts
    FROM d
    WHERE row_key >= 'error#' AND row_key < 'error#~'
    """,
)
def wc_store_zorder_rebucket(spark, sf_dir):
    """DRIFT-ADAPTIVE key-range re-bucketing as a driver row (VERDICT r7
    ask #1): the first base batch holds only click/view series, so the
    percentile boundaries of the RangeZorderCellStore sidecar all lie in
    {click-image, view-image}; the delta batch then drifts the key
    distribution (error/purchase/signup). compact() recomputes the
    boundaries from the folded snapshot and versions the sidecar at the
    compacted snapshot (sources/store_layout.py::compact), so the same
    error-range scan reads:

    - STALE layout (time travel to the pre-compact version): the one
      mid bucket holds every non-view series — pre-residual scanned
      cells = click+error+purchase+signup (oracle-pinned EXACTLY);
    - REBUCKETED layout: every event type has mass ≥ 1/8, so the fresh
      quantiles provably place boundaries exactly at the error and
      purchase key images (the 6-byte image is double-exact, so
      percentile_approx returns true data values) — the covering
      collapses to the error partitions alone and the pre-residual
      scanned set is EXACTLY the error cells (oracle-pinned).

    Correctness never depends on either layout (residual range
    predicate always applied): old_version_match pins that the
    pre-compact snapshot, read under ITS OWN boundary set, returns
    bit-identical range aggregates — time travel survives rebucketing.
    100 TB: compaction already rewrites the data; the boundary
    re-estimate is one percentile_approx over the same pass, and read
    amplification tracks the data as it is NOW, not as it first
    arrived."""
    from smoltable_spark.sources.store_layout import RangeZorderCellStore

    cells = _events_cells_seq(spark, sf_dir, mod=4)
    etype = F.split(F.col("row_key"), "#").getItem(0)
    store = RangeZorderCellStore(
        spark,
        scratch_dir("smoltable_rebucket_") + "/store",
        b_bucket=lambda: F.expr(f"(ts div {_Z_DAY_NS}) % 8"),
        bits=3,
    )
    store.save_families([ColumnFamilyDef("value")])
    v_base = store.write(
        cells.filter(etype.isin("click", "view")), seq_col="_seq"
    )
    v_delta = store.append(
        cells.filter(etype.isin("error", "purchase", "signup")),
        seq_col="_seq",
    )
    v_compacted = store.compact()
    n_boundary_sets = len(store.boundary_versions())

    lo, hi = "error#", "error#~"
    all_days = list(range(8))

    def range_agg(version):
        out = store.key_range_scan(lo, hi, b_values=all_days, version=version)
        return out.agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.countDistinct("row_key").cast("long").alias("n_series"),
            F.sum(F.round(F.col("v_f64") * 100).cast("long")).alias(
                "total_cents"
            ),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        ).collect()[0]

    def scanned(version):
        # the covering read BEFORE the residual predicate — what the
        # layout actually pulls off disk for this range
        a_vals = list(
            range(
                store._bucket_of(lo, version),
                store._bucket_of(hi, version) + 1,
            )
        )
        return store.box_scan(a_vals, all_days, version=version).count()

    agg_new, agg_old = range_agg(v_compacted), range_agg(v_delta)
    row = [
        (
            v_base,
            v_delta,
            v_compacted,
            n_boundary_sets,
            1 if tuple(agg_new) == tuple(agg_old) else 0,
            scanned(v_compacted),
            scanned(v_delta),
            int(agg_new["n_cells"]),
            int(agg_new["n_series"]),
            int(agg_new["total_cents"]),
            int(agg_new["min_ts"]),
            int(agg_new["max_ts"]),
        )
    ]
    return spark.createDataFrame(
        row,
        "v_base int, v_delta int, v_compacted int, n_boundary_sets int, "
        "old_version_match int, scanned_compacted long, scanned_stale long, "
        "n_cells long, n_series long, total_cents long, "
        "min_ts long, max_ts long",
    )


# ---------------------------------------------------------------------------
# S8 table list/stats + the reference docs' locality-group read-amp numbers

#: the 8 rows of the reference's locality-group guide
#: (docs/src/content/docs/guides/locality-groups.md and
#: docs/public/scripts/example-no-locality.sh) — ingested verbatim so the
#: documented cells/bytes read-amplification numbers can be pinned.
_LG_DOCS_ROWS = [
    ("org.apache.spark",
     "Apache Spark™ - Unified Engine for large-scale data analytics"),
    ("org.apache.solr", "Welcome to Apache Solr - Apache Solr"),
    ("org.apache.hbase", "Apache HBase - Apache HBase™ Home"),
    ("org.apache.lucene", "Apache Lucene - Welcome to Apache Lucene"),
    ("org.apache.kafka", "Apache Kafka"),
    ("org.apache.cassandra",
     "Apache Cassandra | Apache Cassandra Documentation"),
    ("org.apache.parquet", "Apache Parquet"),
    ("org.apache.arrow", "Apache Arrow | Apache Arrow"),
]


def _lg_docs_items():
    return [
        {
            "row_key": rk,
            "cells": [
                {"column_key": "title:", "value": {"string": title}},
                {"column_key": "language:", "value": {"string": "EN"}},
            ],
        }
        for rk, title in _LG_DOCS_ROWS
    ]


def _wire_cell_bytes():
    """EXACT reference wire size of a cell: LSM key ``row:cf:cq:`` +
    16-byte inverted-u128 timestamp (smoltable/src/cell.rs:167-182
    format_key) plus value = 1-byte type tag + payload (cell.rs:43-50;
    string payload is the raw UTF-8 bytes). bytes_scanned in the
    reference sums exactly key.len()+value.len() per visited cell
    (smoltable/src/table/reader.rs:106-117)."""
    return (
        F.octet_length(F.col("row_key"))
        + F.octet_length(F.col("family"))
        + F.octet_length(F.col("qualifier"))
        + F.lit(3 + 16 + 1)
        + F.coalesce(F.octet_length(F.col("v_str")), F.lit(0))
    )


@q(
    "wc_lg_read_amp",
    """
    SELECT CAST(16 AS BIGINT) AS cells_scanned_nolg,
           CAST(984 AS BIGINT) AS bytes_scanned_nolg,
           CAST(8 AS BIGINT) AS cells_scanned_lg,
           CAST(610 AS BIGINT) AS bytes_scanned_lg,
           CAST(8 AS BIGINT) AS lang_cells_scanned_lg,
           CAST(374 AS BIGINT) AS lang_bytes_scanned_lg,
           CAST(8 AS BIGINT) AS cell_count,
           CAST(8 AS BIGINT) AS row_count,
           CAST(2 AS INT) AS read_amp_nolg,
           CAST(1 AS INT) AS read_amp_lg,
           CAST(1 AS INT) AS results_equal
    """,
)
def wc_lg_read_amp(spark, sf_dir):
    """The reference docs' locality-group READ-AMPLIFICATION example,
    numbers replicated exactly (VERDICT r7 ask #4; docs/guides/
    locality-groups.md:150-340): the same 8 two-cell rows are ingested
    into a table WITHOUT locality groups and one where ``title`` has its
    own group. A title-only scan then measures what the storage layer
    yields before column filtering — the reference's cells_scanned /
    bytes_scanned observability:

    - no locality groups: 16 cells / 984 bytes scanned to return 8
      cells (read amplification 2);
    - title in its own group: 8 cells / 610 bytes (read amplification
      1), because lg partition pruning (operators/filters.py::
      affected_locality_groups → Catalyst PartitionFilters) never opens
      the default group's files;
    - scanning ``language:`` on the lg table reads the default group
      only: 8 cells / 374 bytes.

    Byte counts use the reference's exact wire format (raw LSM
    key+value lengths, _wire_cell_bytes) so all six numbers match the
    published example verbatim; results_equal pins that both layouts
    return identical cells. sf-independent by design — the fixture IS
    the workload (like the reference's own docs example)."""
    from smoltable_spark.table import Smoltable

    base = scratch_dir("smoltable_lgamp_")
    nolg = Smoltable.open(spark, base + "/no_lg")
    nolg.create_column_families(
        [ColumnFamilyDef("language"), ColumnFamilyDef("title")]
    )
    withlg = Smoltable.open(spark, base + "/with_lg")
    withlg.create_column_families(
        [ColumnFamilyDef("language"), ColumnFamilyDef("title", lg="lg_title")]
    )
    items = _lg_docs_items()
    nolg.write(items, default_ts=1)
    withlg.write(items, default_ts=1)

    def measure(table, fam):
        cf = ColumnFilter.key(f"{fam}:")
        visited = table.store.read_for_filter(cf).drop("lg")
        m = visited.agg(
            F.count(F.lit(1)).cast("long").alias("cells"),
            F.sum(_wire_cell_bytes()).cast("long").alias("bytes"),
        ).collect()[0]
        returned = sorted(
            map(
                tuple,
                scan_cells(visited, ScanInput(prefix="", column_filter=cf))
                .select("row_key", "family", "qualifier", "ts", "v_str")
                .collect(),
            )
        )
        return int(m["cells"]), int(m["bytes"]), returned

    c_nolg, b_nolg, got_nolg = measure(nolg, "title")
    c_lg, b_lg, got_lg = measure(withlg, "title")
    c_lang, b_lang, _ = measure(withlg, "language")
    row = [
        (
            c_nolg,
            b_nolg,
            c_lg,
            b_lg,
            c_lang,
            b_lang,
            len(got_lg),
            len({t[0] for t in got_lg}),
            c_nolg // max(len(got_nolg), 1),
            c_lg // max(len(got_lg), 1),
            1 if got_nolg == got_lg else 0,
        )
    ]
    return spark.createDataFrame(
        row,
        "cells_scanned_nolg long, bytes_scanned_nolg long, "
        "cells_scanned_lg long, bytes_scanned_lg long, "
        "lang_cells_scanned_lg long, lang_bytes_scanned_lg long, "
        "cell_count long, row_count long, "
        "read_amp_nolg int, read_amp_lg int, results_equal int",
    )


@q(
    "wc_table_stats",
    """
    SELECT CAST(2 AS INT) AS n_families,
           CAST(1 AS INT) AS n_locality_groups,
           CAST(1 AS INT) AS v_first, CAST(2 AS INT) AS v_second,
           CAST(3 AS INT) AS v_compacted,
           CAST(18 AS BIGINT) AS approx_cells_before_compact,
           CAST(17 AS BIGINT) AS approx_cells_after_compact,
           CAST(17 AS BIGINT) AS exact_cells,
           CAST(9 AS BIGINT) AS exact_rows,
           CAST(3 AS INT) AS segments_before_compact,
           CAST(2 AS INT) AS segments_after_compact,
           CAST(1 AS INT) AS du_positive
    """,
)
def wc_table_stats(spark, sf_dir):
    """S8 table list/stats as a driver row (VERDICT r7 ask #3; reference
    server/src/api/list_tables.rs:39-111 returns column families,
    locality groups, disk space, and per-partition segment stats). The
    lifecycle pins every stat against its reconstruction from the write
    set:

    - manifest: 2 families, 1 user locality group;
    - A3 contract numerically: after a second batch OVERWRITES one cell
      coordinate, the footer-only approximate_cell_count is the honest
      UPPER BOUND 18 (shadowed duplicate counted per occurrence,
      store.py::approximate_cell_count) while the exact count is 17;
      compact() folds the chain and the approximation lands exactly on
      17 — approximate converges to exact at compaction, which is the
      reference's segment-item-count semantics (mod.rs:299-306);
    - segment_count (LSM segment analog, mod.rs:888-904) across the
      compact cycle (VERDICT r8 ask #8): after the base write (one file
      per locality group = 2) plus one delta append (deltas are lg-merged
      = +1) the table holds 3 segments; compacting to one range
      partition folds the chain back to one file per locality group = 2
      — the drop IS the fjall segment-merge semantics list_tables
      exposes;
    - disk_space_usage (mod.rs:906-922) pinned as a >0 flag (bytes are
      compression/layout dependent — the reference reports real fs
      bytes too, and those are not stable constants either)."""
    from smoltable_spark.table import Smoltable

    t = Smoltable.open(spark, scratch_dir("smoltable_stats_") + "/t")
    t.create_column_families(
        [ColumnFamilyDef("language"), ColumnFamilyDef("title", lg="lg_title")]
    )
    v1 = t.write(_lg_docs_items(), default_ts=1)
    # second batch: one overwrite (same coordinate, same ts) + one new row
    v2 = t.write(
        [
            {
                "row_key": "org.apache.arrow",
                "cells": [
                    {"column_key": "title:",
                     "value": {"string": "Apache Arrow | Home"}},
                ],
            },
            {
                "row_key": "org.apache.iceberg",
                "cells": [
                    {"column_key": "title:",
                     "value": {"string": "Apache Iceberg"}},
                ],
            },
        ],
        default_ts=1,
    )
    approx_before = t.approximate_cell_count()
    segs_before = t.segment_count()
    v3 = t.compact(num_range_partitions=1)
    approx_after = t.approximate_cell_count()
    exact = t.count().collect()[0]
    fams = t.column_families()
    row = [
        (
            len(fams),
            len({f.lg for f in fams if f.lg}),
            v1,
            v2,
            v3,
            approx_before,
            approx_after,
            int(exact["cell_count"]),
            int(exact["row_count"]),
            segs_before,
            t.segment_count(),
            1 if t.disk_space_usage() > 0 else 0,
        )
    ]
    return spark.createDataFrame(
        row,
        "n_families int, n_locality_groups int, v_first int, v_second int, "
        "v_compacted int, approx_cells_before_compact long, "
        "approx_cells_after_compact long, exact_cells long, exact_rows long, "
        "segments_before_compact int, segments_after_compact int, "
        "du_positive int",
    )
