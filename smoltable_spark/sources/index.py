"""Secondary value index for the CellStore.

The reference (like Bigtable) has exactly one access path: the row key.
Finding "every row whose ``o:orderpriority`` is ``URGENT``" is a full
scan. This module adds the classic remedy — a materialized inverted
index from cell VALUE back to row keys — built once per store version
and served with partition pruning:

- index rows are ``(family, qualifier, val, row_key, ts)`` with ``val``
  the portable string rendering of the typed value (schema.py);
- the parquet layout is ``partitionBy(family, qualifier)`` — an
  equality lookup on an indexed column prunes to that column's
  directory (PartitionFilters), the analog of opening one index
  family's locality group;
- within a partition, files are range-partitioned and sorted by
  ``val``, so the ``val = X`` predicate reaches parquet as a pushed
  filter with min/max page skipping — a disk-seek lookup, not a scan;
- a sidecar records the store version indexed, so readers can detect a
  stale index (the store has moved on) and refuse or rebuild. It is
  published and read through the storage-metadata adapter
  (``store_fs.py``), so the index may live on any URI Spark can write.

At 100 TB the index is a fraction of the table (three short strings +
key per cell) and the lookup cost is O(matching rows), independent of
table size.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from smoltable_spark.schema import value_as_string
from smoltable_spark.sources.store_fs import publish_text, store_fs_for

_META_FILE = "_INDEX_META.json"


def build_value_index(
    store,
    path: str,
    families: list[str] | None = None,
    num_range_partitions: int | None = None,
) -> int:
    """Materialize the value index for ``store``'s current version into
    ``path``. ``families`` restricts the indexed columns (None = all).
    Returns the store version indexed (recorded in the sidecar)."""
    version = store.current_version()
    cells = store.read(version)
    if families is not None:
        cells = cells.filter(F.col("family").isin(list(families)))
    idx = cells.select(
        "family",
        "qualifier",
        value_as_string().alias("val"),
        "row_key",
        "ts",
    )
    if num_range_partitions is None:
        num_range_partitions = max(
            store.spark.sparkContext.defaultParallelism, 8
        )
    (
        idx.repartitionByRange(
            num_range_partitions,
            F.col("family"),
            F.col("qualifier"),
            F.col("val"),
        )
        .sortWithinPartitions("val", "row_key")
        .write.mode("overwrite")
        .partitionBy("family", "qualifier")
        .parquet(path)
    )
    publish_text(
        store_fs_for(store.spark, path),
        os.path.join(path, _META_FILE),
        json.dumps({"store_version": version}),
    )
    return version


def indexed_store_version(spark: SparkSession, path: str) -> int | None:
    fs = store_fs_for(spark, path)
    p = os.path.join(path, _META_FILE)
    if not fs.exists(p):
        return None
    return json.loads(fs.read_text(p)).get("store_version")


def lookup_rows_by_value(
    spark: SparkSession,
    index_path: str,
    family: str,
    qualifier: str,
    value: str,
    expect_store_version: int | None = None,
) -> DataFrame:
    """Row keys whose ``family:qualifier`` cell renders as ``value``.

    The family/qualifier equality becomes PartitionFilters (directory
    pruning), the value equality a PushedFilter with min/max skipping —
    pinned by tests/test_plans.py::test_value_index_lookup_prunes.
    Distinct because multiple timestamped versions of a cell index the
    same (val, row_key)."""
    if expect_store_version is not None:
        got = indexed_store_version(spark, index_path)
        if got != expect_store_version:
            raise ValueError(
                f"value index at {index_path} was built for store version "
                f"{got}, expected {expect_store_version}; rebuild the index"
            )
    return (
        spark.read.parquet(index_path)
        .filter(
            (F.col("family") == family)
            & (F.col("qualifier") == qualifier)
            & (F.col("val") == value)
        )
        .select("row_key")
        .distinct()
    )
