"""CellStore administration over a Hadoop-FS URI — round 11.

The store's data always moved through Spark jobs (URI-capable); its
driver-side metadata (manifest, _VERSION pointer with its chain
manifest, minor-leg names, vacuum's reclaim, footer stats, the Z-order
boundaries sidecar) used local ``os``/``open`` calls — so a store on
hdfs:// or s3a:// could be READ but not administered.
``sources/store_fs.py`` dispatches on the
path scheme; these tests drive the full lifecycle against TWO real
Hadoop filesystems via the parametrized ``mkuri`` fixture — a ``file:``
URI (JVM LocalFileSystem: any lingering os.* call, which cannot parse
``file:/...``, fails loudly) and a ``viewfs://`` mount (ViewFileSystem:
a different FileSystem class with its own path/authority resolution,
exercising scheme dispatch beyond LocalFileSystem — VERDICT r11 ask
#3) — and pin local/URI result parity on both.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from smoltable_spark.api import ColumnFamilyDef
from smoltable_spark.sources.store import CellStore
from smoltable_spark.sources.store_fs import (
    HadoopStoreFS,
    LocalStoreFS,
    store_fs_for,
)

from tests.conftest import make_cells


def _cells(spark, items):
    return make_cells(
        spark, [(rk, "f", "", ts, "string", v) for rk, ts, v in items]
    )


def _snapshot(store, version=None):
    return sorted(
        (r["row_key"], r["ts"], r["v_str"])
        for r in store.read(version).collect()
    )


def test_fs_dispatch_by_scheme(spark, tmp_path):
    assert isinstance(store_fs_for(spark, str(tmp_path)), LocalStoreFS)
    assert isinstance(store_fs_for(spark, "file:" + str(tmp_path)), HadoopStoreFS)
    # s3a:// would dispatch the same way; this container has no
    # hadoop-aws jars, so constructing the FileSystem is not testable here


def test_full_lifecycle_on_file_uri(spark, tmp_path, mkuri):
    store = CellStore(spark, mkuri(tmp_path / "store_uri"))
    store.save_families([ColumnFamilyDef("f")])
    assert [f.name for f in store.load_families()] == ["f"]
    v1 = store.write(_cells(spark, [("a", 1, "v0"), ("b", 1, "w0")]))
    store.append(_cells(spark, [("b", 2, "w1")]))
    store.append(_cells(spark, [("c", 1, "x0")]))
    assert store.current_version() == 3
    assert store._kind(1) == "base" and store._kind(3) == "delta"
    snap = _snapshot(store)
    assert ("b", 2, "w1") in snap and len(snap) == 4
    # tiered fold commits the minor leg under .minor/ through the FS API
    m = store.minor_compact()
    assert store._version_dir(m) == store.path + f"/.minor/v={m}"
    assert store._folds_of(m) == (2, 3)
    assert _snapshot(store) == snap
    # O(changes) feed across the fold
    assert store.read_changes(v1).count() == 2
    # footer stats through the JVM parquet reader
    assert store.approximate_cell_count() >= 4
    assert store.disk_space_usage() > 0
    assert store.file_count() > 0
    # vacuum reclaims superseded delta dirs via the FS adapter
    store.vacuum(keep_last=1)
    assert _snapshot(store) == snap
    # time-travel read of a vacuumed-away version raises the documented
    # error, proving the missing-leg probe works on the URI too
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        store.read(2).collect()


def test_uri_and_local_store_agree(spark, tmp_path, mkuri):
    items = [("a", 1, "v0"), ("b", 1, "w0"), ("b", 2, "w1")]
    s_local = CellStore(spark, str(tmp_path / "local"))
    s_uri = CellStore(spark, mkuri(tmp_path / "uri"))
    for s in (s_local, s_uri):
        s.save_families([ColumnFamilyDef("f")])
        s.write(_cells(spark, items[:2]))
        s.append(_cells(spark, items[2:]))
        s.compact()
    assert _snapshot(s_local) == _snapshot(s_uri)
    assert s_local.approximate_cell_count() == s_uri.approximate_cell_count()


def test_zorder_boundaries_sidecar_on_uri(spark, tmp_path, mkuri):
    from smoltable_spark.sources.store_layout import RangeZorderCellStore

    store = RangeZorderCellStore(
        spark, mkuri(tmp_path / "z_uri"),
        b_bucket=lambda: F.col("ts") % 4, bits=2,
    )
    store.save_families([ColumnFamilyDef("f")])
    store.write(_cells(spark, [(f"k{i:03d}", 1, f"v{i}") for i in range(40)]))
    store.append(_cells(spark, [("k000", 2, "v0b")]))
    assert store.boundary_versions() == [1]
    assert store.boundaries_for(store.current_version())  # sidecar reads
    got = store.key_range_scan("k000", "k005", b_values=[1, 2])
    assert got.filter(F.col("row_key") == "k000").count() == 2
    store.compact()  # re-buckets: writes a fresh sidecar through the FS
    assert ("k000", 2, "v0b") in _snapshot(store)  # both versions survive


def test_migrate_and_cdc_guard_on_uri(spark, tmp_path, mkuri):
    """The CDC chain guard classifies a URI store's legs through its FS
    adapter: a dot-named minor fold is benign, and a minor leg renamed
    to the plain ``v=<n>`` name (outside input the file source would
    re-consume) is refused by a fresh incarnation."""
    from smoltable_spark.streaming.store_cdc import StoreChangeRollup

    store = CellStore(spark, mkuri(tmp_path / "mig_uri"))
    store.save_families([ColumnFamilyDef("f")])
    store.write(_cells(spark, [("a", 1, "v0")]))
    roll = StoreChangeRollup(
        spark, str(tmp_path / "roll"), keys=["family"],
        sums={"n": "1"}, store=store,
    )  # rollup state stays local (consumer state); the WATCHED store is URI
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    m = store.minor_compact()
    # guard probes the URI store's legs through its FS adapter
    roll.guard_chain()  # benign fold: no raise
    # an OUT-OF-BAND rename (not a store op): the long-lived
    # incarnation's guard cache already classified v{m} as a dotted
    # minor, so a FRESH incarnation cold-walks the chain
    store._fs.rename(
        store._version_dir(m), store.path + f"/v={m}"
    )
    fresh = StoreChangeRollup(
        spark, str(tmp_path / "roll"), keys=["family"],
        sums={"n": "1"}, store=store,
    )
    with pytest.raises(ValueError, match="rewrite"):
        fresh.guard_chain()


def test_dedup_admitter_state_on_uri(spark, tmp_path, mkuri):
    """The streaming dedup admitter's persisted state (meta + LSH index
    + decision legs) goes through the FS adapter too — an index on
    object storage admits exactly like a local one."""
    import tests.test_dedup_stream as tds
    from smoltable_spark.streaming.dedup_stream import MinhashAdmitter

    batches = [tds._B0, tds._B1]
    src = str(tmp_path / "src")
    tds._write_batches(spark, src, batches)
    uri = mkuri(tmp_path / "adm_uri")
    adm = MinhashAdmitter(spark, uri)
    tds._run_stream(spark, src, adm, str(tmp_path / "cp"))
    got = {r["doc_id"]: r["admitted"] for r in adm.decisions().collect()}
    want = {d: v[3] for d, v in tds._expected(spark, batches).items()}
    assert got == want
    # a fresh incarnation over the same URI state resumes idempotently
    adm2 = MinhashAdmitter(spark, uri)
    tds._run_stream(spark, src, adm2, str(tmp_path / "cp"))
    assert {r["doc_id"]: r["admitted"] for r in adm2.decisions().collect()} == want


def test_cdc_rollup_state_on_uri(spark, tmp_path, mkuri):
    """StoreChangeRollup's own state dir (meta + versioned result legs)
    works over a URI: fold, prune, resume."""
    from smoltable_spark.streaming.store_cdc import (
        StoreChangeRollup,
        stream_store_changes,
        stream_store_rollup,
    )

    store = CellStore(spark, str(tmp_path / "store"))
    store.save_families([ColumnFamilyDef("f")])
    store.write(_cells(spark, [("a", 1, "v0")]))
    uri = mkuri(tmp_path / "roll_uri")
    roll = StoreChangeRollup(
        spark, uri, keys=["family"],
        sums={"n": "1"}, store=store,
    )
    store.append(_cells(spark, [("b", 1, "w")]))
    s = stream_store_changes(spark, store)
    q = stream_store_rollup(s, roll, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    got = {r["family"]: (r["n"], r["_rows"]) for r in roll.result().collect()}
    assert got == {"f": (2, 2)}
    # a fresh read-side incarnation over the URI state sees the result
    roll2 = StoreChangeRollup(
        spark, uri, keys=["family"],
        sums={"n": "1"},
    )
    got2 = {r["family"]: (r["n"], r["_rows"]) for r in roll2.result().collect()}
    assert got2 == got
