"""Distributed global ranking of row keys.

Row-level limit/offset/stride-sample semantics (SURVEY §2.4 Q1a/b/f) are
defined over the *global row-key order*. A naive
``dense_rank().over(Window.orderBy('row_key'))`` collapses to a single
partition — fine at test scale, a driver-killer at 100 TB. Instead:

1. distinct row keys (map-side combine keeps the shuffle small),
2. ``repartitionByRange`` on row_key → globally ordered partition ranges,
3. per-partition ``row_number`` over a window keyed by the physical
   partition id (narrow — no extra shuffle),
4. per-partition counts → cumulative offsets (tiny driver-side list,
   one row per partition) → global rank = local rank + partition offset.

The result is a ``(row_key, rk)`` DataFrame with rk = 1..N in row-key
order, computed with one shuffle and no single-partition stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from smoltable_spark.session import materialize


def _frozen_offset_pass(
    df: DataFrame,
    order: list,
    num_partitions: int | None,
    group_cols: tuple = (),
    weight: str | None = None,
) -> tuple[DataFrame, int]:
    """The shared skeleton: range-partition ``df`` on ``order``, number
    rows (or running-sum ``weight``) inside each (partition, group) run,
    then add the collected totals of the partitions before it in that
    group. Returns ``(df + _pos LONG, total)``: ``_pos`` is the global
    1-based position (or inclusive running sum) within the group, and
    ``total`` the row count (or weight sum) over all rows."""
    if num_partitions is None:
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    rows = df.repartitionByRange(num_partitions, *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    # freeze the physical partitioning: the offsets computed below are
    # only valid for THIS materialization — re-executing the lineage in
    # the final join lets AQE coalesce differently, shifting partition
    # ids and corrupting positions. A correctness pin, not a cache.
    rows = materialize(rows, "bounded")
    keys = ["_pid", *group_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    if weight is None:
        local, size = F.row_number().over(w), F.count(F.lit(1))
    else:
        local, size = F.sum(weight).over(w), F.sum(weight)
    rows = rows.withColumn("_local", local)
    # one row per (partition, group): bounded by partitions x groups
    runs: dict = {}
    for r in rows.groupBy(*keys).agg(size.alias("_n")).collect():
        runs.setdefault(tuple(r[g] for g in group_cols), []).append(
            (r["_pid"], r["_n"])
        )
    off_rows, total = [], 0
    for g, lst in runs.items():
        acc = 0
        for pid, n in sorted(lst):
            off_rows.append((pid, *g, acc))
            acc += n
        total += acc
    types = "".join(
        f", {g} {df.schema[g].dataType.simpleString()}" for g in group_cols
    )
    off_df = df.sparkSession.createDataFrame(off_rows, f"_pid INT{types}, _off LONG")
    out = (
        rows.join(F.broadcast(off_df), keys)
        .withColumn("_pos", (F.col("_local") + F.col("_off")).cast("long"))
        .drop("_pid", "_local", "_off")
    )
    return out, total


def ranked_row_keys(
    cells: DataFrame,
    num_partitions: int | None = None,
    descending: bool = False,
    col: str = "row_key",
) -> DataFrame:
    """Return DataFrame(``col`` , rk LONG) with global 1-based rank over
    the DISTINCT values of ``col`` (descending order when ``descending``
    — backward scans). ``col`` defaults to the cell schema's row_key but
    any orderable column works — e.g. the unique interleave slot ids in
    ``pipeline_interleave_datasets``."""
    order = F.col(col).desc() if descending else F.col(col).asc()
    keys = cells.select(col).distinct()
    return ranked_rows(keys, [order], num_partitions=num_partitions)


def ranked_rows(
    df: DataFrame,
    order: list,
    rk_col: str = "rk",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global ``row_number()`` over an arbitrary multi-column ordering
    WITHOUT an unpartitioned window — the row-level generalization of
    :func:`ranked_row_keys` (keeps every input column, no distinct).

    ``order`` is a list of Column expressions (e.g. ``[F.col('c').desc(),
    F.col('tok').asc()]``). Rows are range-partitioned on the ordering,
    ranked by a NARROW per-partition window, and offset by collected
    per-partition counts (one row each). Ties straddling a range
    boundary are fine: ``row_number`` is tie-arbitrary by definition —
    pass a total order (include a unique tiebreaker) when determinism
    matters, as every caller here does.
    """
    out, _ = _frozen_offset_pass(df, order, num_partitions)
    return out.withColumnRenamed("_pos", rk_col)


def value_min_ranks(
    df: DataFrame, value_col: str, num_partitions: int | None = None
) -> tuple[DataFrame, int]:
    """SQL ``rank()`` (ties share the MIN rank) over ALL rows of
    ``value_col``, without a single-partition window — the hierarchical
    prefix-sum decomposition (VERDICT r8 ask #1 for
    ``rel_percentile_rank``).

    ``rank(v) = 1 + #rows with value < v``, so it is a pure function of
    the per-value multiplicity histogram:

    1. ``groupBy(value) → cnt`` (map-side combine keeps the shuffle
       output one row per DISTINCT value),
    2. ``repartitionByRange(value)`` → every distinct value lands in
       exactly ONE partition (no tie can straddle a boundary, unlike
       range-partitioning the raw rows),
    3. narrow per-partition running sum of ``cnt`` in value order,
    4. per-partition totals (one row per partition, collected) →
       cumulative offsets; ``rank = offset + running - cnt + 1``.

    Returns ``(DataFrame(value_col, r LONG), n)`` with one row per
    distinct value and ``n`` = total input rows (free: the sum of the
    per-partition totals already collected) — callers join ranks back
    to their id-carrying rows on ``value_col`` and use ``n`` as the
    window-free ``count() OVER ()`` replacement.
    """
    counts = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("_cnt"))
    out, n = _frozen_offset_pass(
        counts, [F.col(value_col).asc()], num_partitions, weight="_cnt"
    )
    ranks = out.select(
        value_col, (F.col("_pos") - F.col("_cnt") + 1).cast("long").alias("r")
    )
    return ranks, n


def grouped_ranked_values(
    df: DataFrame,
    group_col: str,
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group global rank of ``value_col`` WITHOUT per-group single
    partitions — the grouped generalization of :func:`ranked_row_keys`.

    ``row_number().over(Window.partitionBy(group).orderBy(value))`` puts
    each group in ONE partition: fine for many small groups, a
    straggler-maker when a handful of groups hold 100 TB between them
    (e.g. exact quantiles per event_type). Instead:

    1. ``repartitionByRange(group, value)`` → each group spans a *run* of
       globally ordered partitions (a big group gets many),
    2. narrow per-(partition, group) ``row_number`` (no extra shuffle),
    3. per-(partition, group) counts — one row per (pid, group), tiny —
       collected and turned into per-group cumulative offsets,
    4. global in-group rank = local rank + offset, via a broadcast join.

    Rows are NOT deduplicated: ties keep their multiplicity, so the value
    at in-group rank k is deterministic even though tie order is not.
    Returns DataFrame(group_col, value_col, rk LONG) with rk = 1..n_group.
    """
    out, _ = _frozen_offset_pass(
        df.select(group_col, value_col),
        [F.col(group_col).asc(), F.col(value_col).asc()],
        num_partitions,
        group_cols=(group_col,),
    )
    return out.select(group_col, value_col, F.col("_pos").alias("rk"))


def top_row_keys(cells: DataFrame, n: int, descending: bool = False) -> DataFrame:
    """First ``n`` distinct row keys in row-key order, with rank.

    Fast path for limit/offset when n is bounded (the reference caps at
    u16::MAX): ``orderBy().limit()`` compiles to TakeOrderedAndProject — a
    distributed top-k with no global sort — and the tiny result is ranked
    with a driver-local window.
    """
    order = F.col("row_key").desc() if descending else F.col("row_key").asc()
    keys = cells.select("row_key").distinct().orderBy(order).limit(n)
    w = Window.orderBy(order)  # bounded by n — single partition is fine
    return keys.withColumn("rk", F.row_number().over(w).cast("long"))
