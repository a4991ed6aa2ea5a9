"""Secondary value index: correctness + staleness contract."""

import tempfile

import pytest
from pyspark.sql import functions as F

from smoltable_spark.api import ColumnFamilyDef
from smoltable_spark.sources import index as vindex
from smoltable_spark.sources.store import CellStore
from tests.conftest import make_cells


def _store(spark):
    store = CellStore(spark, tempfile.mkdtemp(prefix="vidx_store_"))
    store.save_families([ColumnFamilyDef("f")])
    store.write(
        make_cells(
            spark,
            [
                ("r1", "f", "color", 0, "string", "red"),
                ("r2", "f", "color", 0, "string", "blue"),
                ("r3", "f", "color", 0, "string", "red"),
                ("r1", "f", "size", 0, "i64", 10),
            ],
        )
    )
    return store


def test_lookup_finds_matching_rows(spark):
    store = _store(spark)
    path = tempfile.mkdtemp(prefix="vidx_") + "/idx"
    v = vindex.build_value_index(store, path)
    keys = vindex.lookup_rows_by_value(
        spark, path, "f", "color", "red", expect_store_version=v
    )
    assert sorted(r["row_key"] for r in keys.collect()) == ["r1", "r3"]
    # numeric values index via their string rendering
    keys = vindex.lookup_rows_by_value(spark, path, "f", "size", "10")
    assert [r["row_key"] for r in keys.collect()] == ["r1"]
    assert vindex.lookup_rows_by_value(spark, path, "f", "color", "green").count() == 0


def test_stale_index_refused(spark):
    store = _store(spark)
    path = tempfile.mkdtemp(prefix="vidx_") + "/idx"
    vindex.build_value_index(store, path)
    store.append(
        make_cells(spark, [("r9", "f", "color", 0, "string", "red")])
    )
    with pytest.raises(ValueError, match="rebuild the index"):
        vindex.lookup_rows_by_value(
            spark, path, "f", "color", "red",
            expect_store_version=store.current_version(),
        )
    # rebuild picks up the new row
    v = vindex.build_value_index(store, path)
    keys = vindex.lookup_rows_by_value(
        spark, path, "f", "color", "red", expect_store_version=v
    )
    assert sorted(r["row_key"] for r in keys.collect()) == ["r1", "r3", "r9"]


def test_index_sidecar_on_uri(spark, tmp_path, mkuri):
    """The version sidecar is published and read through the
    storage-metadata adapter, so an index on a URI records the store
    version it was built for and the staleness check can see it."""
    store = _store(spark)
    path = mkuri(tmp_path / "idx")
    v = vindex.build_value_index(store, path)
    assert vindex.indexed_store_version(spark, path) == v
    keys = vindex.lookup_rows_by_value(
        spark, path, "f", "color", "red", expect_store_version=v
    )
    assert sorted(r["row_key"] for r in keys.collect()) == ["r1", "r3"]
    with pytest.raises(ValueError, match=f"built for store version {v}"):
        vindex.lookup_rows_by_value(
            spark, path, "f", "color", "red", expect_store_version=v + 1
        )
