"""Tiered (minor/major) compaction — round 9.

``compact()`` is a full O(table) base rewrite; ``minor_compact()`` folds
only the trailing run of delta legs into ONE **minor** leg (O(changes)),
recording the ``(from, through)`` range it superseded in the pointer's
chain manifest. ``_legs_of`` is the single chain resolver every consumer
(read / read_changes / vacuum / stats) goes through.

Reference parity: fjall compacts L0 segments tier-wise before a levelled
rewrite (smoltable/src/table/mod.rs:156-165 triggers at L0 threshold 8);
RocksDB/Cassandra call the same split minor vs major compaction.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from smoltable_spark.api import ColumnFamilyDef
from smoltable_spark.sources.store import CellStore

from tests.conftest import make_cells


def _mk(spark, tmp_path, name="tiered"):
    store = CellStore(spark, str(tmp_path / name))
    store.save_families([ColumnFamilyDef("f")])
    return store


def _cells(spark, items):
    """items: list of (row_key, ts, value)."""
    return make_cells(
        spark, [(rk, "f", "", ts, "string", v) for rk, ts, v in items]
    )


def _snapshot(store, version=None):
    return sorted(
        (r["row_key"], r["ts"], r["v_str"])
        for r in store.read(version).collect()
    )


def test_minor_compact_folds_trailing_deltas(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "base-a"), ("b", 1, "base-b")]))
    store.append(_cells(spark, [("a", 2, "d1-a")]))
    store.append(_cells(spark, [("c", 1, "d2-c"), ("a", 2, "d2-a")]))
    before = _snapshot(store)
    v = store.minor_compact()
    assert v == 4 and store._kind(4) == "minor"
    assert store._folds_of(4) == (2, 3)
    # chain resolves to base + minor only; folded deltas superseded
    assert store._legs_of(4) == [1, 4]
    assert _snapshot(store) == before
    # shadowing INSIDE the fold: d2's rewrite of (a, 2) won
    assert ("a", 2, "d2-a") in before and ("a", 2, "d1-a") not in before
    # time travel to pre-fold versions still reads the original chain
    assert store._legs_of(3) == [1, 2, 3]
    assert _snapshot(store, version=3) == before


def test_minor_compact_noop_below_two_deltas(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "x")]))
    assert store.minor_compact() == 1  # base only
    store.append(_cells(spark, [("b", 1, "y")]))
    assert store.minor_compact() == 2  # single delta: nothing to fold


def test_minors_stack_and_shadow_in_order(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("a", 1, "v1")]))
    store.append(_cells(spark, [("b", 1, "w1")]))
    m1 = store.minor_compact()  # folds (2,3)
    store.append(_cells(spark, [("a", 1, "v2")]))
    store.append(_cells(spark, [("c", 1, "x1")]))
    m2 = store.minor_compact()  # folds (5,6) — M1 left stacked
    assert store._kind(m1) == "minor" and store._kind(m2) == "minor"
    assert store._folds_of(m2) == (5, 6)
    assert store._legs_of(m2) == [1, m1, m2]
    snap = _snapshot(store)
    assert ("a", 1, "v2") in snap  # newest fold shadows the older minor
    assert ("b", 1, "w1") in snap and ("c", 1, "x1") in snap
    assert len([x for x in snap if x[0] == "a"]) == 1


def test_major_compact_after_minor(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    store.minor_compact()
    before = _snapshot(store)
    v = store.compact()
    assert store._kind(v) == "base" and store._legs_of(v) == [v]
    assert _snapshot(store) == before


def test_read_changes_skips_pre_consumed_minor(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    m = store.minor_compact()  # folds (2,3)
    store.append(_cells(spark, [("d", 1, "y")]))
    # consumer already saw v<=3: the minor is a re-layout of consumed
    # changes — the feed since 3 is exactly the new delta
    got = sorted(r["row_key"] for r in store.read_changes(3).collect())
    assert got == ["d"]
    # consumer saw only the base: the fold covers ONLY in-range deltas,
    # so the minor leg substitutes for them (fewer files, same bytes)
    got = sorted(r["row_key"] for r in store.read_changes(1).collect())
    assert got == ["b", "c", "d"]
    assert m == 4


def test_read_changes_straddling_minor_uses_originals(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    store.minor_compact()  # folds (2,3)
    # consumer saw v<=2: fold straddles 2 — originals still on disk,
    # so the exact O(changes) feed is derivable
    got = sorted(r["row_key"] for r in store.read_changes(2).collect())
    assert got == ["c"]


def test_read_changes_straddling_minor_after_vacuum_raises(spark, tmp_path):
    import shutil

    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    store.minor_compact()  # folds (2,3) at v4
    shutil.rmtree(store._version_dir(3))  # simulate vacuumed originals
    with pytest.raises(ValueError, match="minor compaction"):
        store.read_changes(2)


def test_vacuum_reclaims_superseded_deltas(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    m = store.minor_compact()  # v4 folds (2,3)
    before = _snapshot(store)
    store.vacuum(keep_last=1)
    # superseded delta dirs reclaimed; base + minor retained
    assert not os.path.isdir(store._version_dir(2))
    assert not os.path.isdir(store._version_dir(3))
    assert os.path.isdir(store._version_dir(1))
    assert os.path.isdir(store._version_dir(m))
    assert _snapshot(store) == before


def test_vacuum_keeps_straddled_originals_while_retained(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    store.minor_compact()
    # keep_last=3 retains v2..v4; v2 and v3 resolve through the original
    # delta dirs, so they must survive
    store.vacuum(keep_last=3)
    assert os.path.isdir(store._version_dir(2))
    assert os.path.isdir(store._version_dir(3))
    assert _snapshot(store, version=3) == _snapshot(store, version=4)


def test_stats_follow_effective_chain(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    files_before = store.file_count()
    approx_before = store.approximate_cell_count()
    store.minor_compact()
    # the fold merges 2 delta legs into 1: segment count must not grow,
    # and the footer-sum cell count stays an upper bound that tightens
    assert store.file_count() <= files_before
    assert store.approximate_cell_count() <= approx_before
    assert store.approximate_cell_count() >= store.read().count()


def test_tiered_worker_policy(spark, tmp_path):
    from smoltable_spark.jobs.workers import tiered_compaction_worker

    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    assert tiered_compaction_worker(store, l0_threshold=2) is None
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    kind, v = tiered_compaction_worker(store, l0_threshold=2, minor_fanin=2)
    assert kind == "minor" and store._kind(v) == "minor"
    # below threshold again (pending = 1 minor leg)
    assert tiered_compaction_worker(store, l0_threshold=2) is None
    store.append(_cells(spark, [("d", 1, "y")]))
    store.append(_cells(spark, [("e", 1, "z")]))
    kind, v2 = tiered_compaction_worker(store, l0_threshold=2, minor_fanin=2)
    assert kind == "minor"
    # two stacked minors == fanin → next overflow majors
    store.append(_cells(spark, [("f", 1, "q")]))
    store.append(_cells(spark, [("g", 1, "r")]))
    kind, v3 = tiered_compaction_worker(store, l0_threshold=2, minor_fanin=2)
    assert kind == "major" and store._kind(v3) == "base"
    assert store._legs_of(v3) == [v3]
    snap = _snapshot(store)
    assert {x[0] for x in snap} == {"a", "b", "c", "d", "e", "f", "g"}


def test_minor_compact_on_zorder_store(spark, tmp_path):
    """Minor legs of a Z-ordered store keep the delta contract: lg-only
    partition dirs with zb carried as a data column, so the box_scan
    residual path still applies and a later major compact re-z-orders."""
    from pyspark.sql import functions as F

    from smoltable_spark.sources.store_layout import ZorderCellStore

    store = ZorderCellStore(
        spark,
        str(tmp_path / "z"),
        a_bucket=lambda: F.length(F.col("row_key")) % 4,
        b_bucket=lambda: F.col("ts") % 4,
        bits=2,
    )
    store.save_families([ColumnFamilyDef("f")])
    store.write(_cells(spark, [("a", 1, "v0"), ("bb", 2, "v1")]))
    store.append(_cells(spark, [("ccc", 3, "v2")]))
    store.append(_cells(spark, [("dddd", 4, "v3")]))
    before = _snapshot(store)
    m = store.minor_compact()
    assert store._kind(m) == "minor"
    d = store._version_dir(m)
    lgs = [n for n in os.listdir(d) if n.startswith("lg=")]
    assert lgs and not any(
        n.startswith("zb=") for lg in lgs for n in os.listdir(os.path.join(d, lg))
    )
    assert _snapshot(store) == before
    assert "zb" in store.read().columns
    v = store.compact()
    lgs = [n for n in os.listdir(store._version_dir(v)) if n.startswith("lg=")]
    assert any(
        n.startswith("zb=")
        for lg in lgs
        for n in os.listdir(os.path.join(store._version_dir(v), lg))
    )


def test_minor_leg_dir_is_stream_invisible(spark, tmp_path):
    """Minor legs commit under ``.minor/v=<n>``, which Spark's file
    listing skips at every level — structurally invisible to both the
    flat-store root stream and the layout stores' delta glob, while
    explicit-path batch reads (_merge_legs) see the dir fine. The root
    names the leg by its ``_FOLDS-v<n>`` file."""
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    before = _snapshot(store)
    m = store.minor_compact()
    d = store._version_dir(m)
    assert os.path.relpath(d, store.path) == os.path.join(".minor", f"v={m}")
    assert f"_FOLDS-v{m}" in os.listdir(store.path)
    assert store._kind(m) == "minor"
    assert _snapshot(store) == before  # explicit-path reads unaffected
    # vacuum reclaims minor legs under .minor/ too once superseded, and
    # their root markers with them
    v = store.compact()
    store.vacuum(keep_last=1)
    assert not os.path.isdir(d)
    assert f"_FOLDS-v{m}" not in os.listdir(store.path)
    assert store._legs_of(v) == [v]


def test_older_layout_minor_leg_dir_is_refused(spark, tmp_path):
    """A ``.v=<n>.minor`` dir is a minor leg of the older layout, which
    this layout does not read: every operation raises the rebuild
    error, as for a plain ``_VERSION`` pointer file."""
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    m = store.minor_compact()
    os.rename(store._version_dir(m), os.path.join(store.path, f".v={m}.minor"))
    fresh = _mk(spark, tmp_path)
    with pytest.raises(IOError, match="older layout.*rebuild"):
        fresh.read()
    with pytest.raises(IOError, match="older layout.*rebuild"):
        fresh.vacuum(keep_last=1)


def _fail_commit(monkeypatch, store, at):
    """Make the next commit fail ``at`` "data" (the leg's parquet write)
    or "publish" (the pointer publish, after the data is on disk)."""
    from pyspark.sql import DataFrameWriter

    class _Stop(Exception):
        pass

    def boom(*_a, **_k):
        raise _Stop(at)

    if at == "data":
        monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    else:
        monkeypatch.setattr(store, "_commit_version", boom)
    return _Stop


@pytest.mark.parametrize("at", ["data", "publish"])
def test_failed_minor_commit_is_named_and_vacuumed(spark, tmp_path, monkeypatch, at):
    """A minor commit that fails before its pointer publish names its
    ``.minor`` dir by the root marker, which it writes first. The next
    commit of that version clears it, and reads never see it."""
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    before = _snapshot(store)
    with monkeypatch.context() as m:
        stop = _fail_commit(m, store, at)
        with pytest.raises(stop):
            store.minor_compact()
    n = store.current_version() + 1
    assert f"_FOLDS-v{n}" in os.listdir(store.path)
    assert _snapshot(store) == before
    store.vacuum(keep_last=1)  # above the pointer: left to the next commit
    d = store.append(_cells(spark, [("d", 1, "y")]))
    assert d == n and store._kind(d) == "delta"
    assert _snapshot(store) == before + [("d", 1, "y")]
    assert not os.path.exists(os.path.join(store.path, ".minor", f"v={n}"))
    assert f"_FOLDS-v{n}" not in os.listdir(store.path)


def test_leftover_of_lost_commit_race_is_vacuumed(spark, tmp_path):
    """A minor commit that lost the race for its version leaves its
    ``.minor`` dir and marker beside the winner's root leg: reads take
    the root leg, and ``vacuum`` removes the leftover."""
    import shutil

    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    m = store.append(_cells(spark, [("d", 1, "y")]))  # the winner
    # the loser: a fold of v2..v3 written to .minor/v=<m>, and its marker
    loser = os.path.join(store.path, ".minor", f"v={m}")
    shutil.copytree(store._version_dir(2), loser)
    store._fs.write_text(store._folds_marker(m), '{"from": 2, "through": 3}')
    fresh = _mk(spark, tmp_path)
    assert fresh._version_dir(m) == os.path.join(fresh.path, f"v={m}")
    before = _snapshot(fresh)
    fresh.vacuum(keep_last=1)
    assert not os.path.exists(loser)
    assert f"_FOLDS-v{m}" not in os.listdir(fresh.path)
    assert _snapshot(fresh) == before


def test_minor_leg_wins_over_the_root_leftover_of_a_lost_race(spark, tmp_path):
    """A minor commit wins version m, and a delta writer that lost the
    race for m has left its ``v=<m>`` dir at the root: the pointer's
    manifest says m is minor, so reads take the fold, and ``vacuum``
    removes the root leftover."""
    import shutil

    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    before = _snapshot(store)
    m = store.minor_compact()  # the winner
    other = _mk(spark, tmp_path, "other")
    other.append(_cells(spark, [("z", 1, "lost")]))
    leftover = os.path.join(store.path, f"v={m}")
    shutil.copytree(other._version_dir(1), leftover)  # the loser's data
    fresh = _mk(spark, tmp_path)
    fresh.current_version()
    assert fresh._version_dir(m) == os.path.join(fresh.path, ".minor", f"v={m}")
    assert _snapshot(fresh) == before
    fresh.vacuum(keep_last=1)
    assert not os.path.exists(leftover)
    assert _snapshot(fresh) == before
    assert fresh._version_dir(m) == os.path.join(fresh.path, ".minor", f"v={m}")


def test_failed_delta_commit_never_shadows_the_minor_leg(spark, tmp_path, monkeypatch):
    """A delta commit that fails after writing ``v=<n>`` leaves a root
    dir that would win over a later minor leg of the same version: the
    minor commit clears it first, so reads see the fold."""
    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    before = _snapshot(store)
    with monkeypatch.context() as m:
        stop = _fail_commit(m, store, "publish")
        with pytest.raises(stop):
            store.append(_cells(spark, [("z", 1, "lost")]))
    n = store.minor_compact()
    assert store._version_dir(n) == os.path.join(store.path, ".minor", f"v={n}")
    assert f"v={n}" not in os.listdir(store.path)
    assert _snapshot(store) == before


def test_cdc_stream_survives_minor_compaction(spark, tmp_path):
    """The r9 exclusion is gone: a minor fold between micro-batches is
    a benign re-layout — the stream keeps consuming the ORIGINAL delta
    legs (the fold's dir never enters the source), the guard passes,
    and the rollup over the full chain equals the batch aggregate with
    no double count. This is the 100 TB steady state: tiered compaction
    running continuously under a live change feed."""
    from smoltable_spark.streaming.store_cdc import (
        StoreChangeRollup,
        stream_store_changes,
        stream_store_rollup,
    )

    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    roll = StoreChangeRollup(
        spark,
        str(tmp_path / "roll"),
        keys=["family"],
        sums={"n": "1"},
        store=store,
    )

    def drain():
        s = stream_store_changes(spark, store)
        q = stream_store_rollup(s, roll, str(tmp_path / "ckpt"))
        assert q.awaitTermination(120)

    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    drain()  # consumed: base + 2 deltas = 3 cells
    m = store.minor_compact()  # folds (2,3) — invisible to the stream
    store.append(_cells(spark, [("d", 1, "y")]))
    drain()  # guard passes across the fold; only the new delta arrives
    got = {r["family"]: (r["n"], r["_rows"]) for r in roll.result().collect()}
    assert got == {"f": (4, 4)}  # no double count of the folded cells
    assert roll.processed_rows() == 4
    assert store._kind(m) == "minor"
    # a base rewrite still forces the resync, exactly as before
    store.compact()
    with pytest.raises(ValueError, match="rewrite"):
        drain()


def test_cdc_stream_refuses_files_of_a_failed_commit(spark, tmp_path, monkeypatch):
    """A delta commit that fails at its pointer publish leaves its files
    where the stream's source lists them. The version is above the
    pointer, so the drain raises and names it, and the rollup folds
    none of its rows."""
    from smoltable_spark.streaming.store_cdc import (
        StoreChangeRollup,
        stream_store_changes,
        stream_store_rollup,
    )

    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    roll = StoreChangeRollup(
        spark, str(tmp_path / "roll"), keys=["family"], sums={"n": "1"},
        store=store,
    )

    def drain():
        s = stream_store_changes(spark, store)
        q = stream_store_rollup(s, roll, str(tmp_path / "ckpt"))
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()

    store.append(_cells(spark, [("b", 1, "w")]))
    drain()
    folded = roll.processed_rows()
    assert folded == 2
    with monkeypatch.context() as m:
        stop = _fail_commit(m, store, "publish")
        with pytest.raises(stop):
            store.append(_cells(spark, [("z", 1, "lost")]))
    n = store.current_version() + 1
    assert os.path.isdir(os.path.join(store.path, f"v={n}"))
    with pytest.raises(Exception, match=rf"uncommitted version\(s\) \[{n}\]"):
        drain()
    assert roll.processed_rows() == folded


def test_cdc_stream_survives_minor_compaction_on_layout_store(spark, tmp_path):
    """A layout store streams its delta legs through the ``v=*/lg=*``
    glob; a minor leg under ``.minor/`` never matches it, so the fold
    between micro-batches adds no cell to the rollup."""
    from pyspark.sql import functions as F

    from smoltable_spark.sources.store_layout import ZorderCellStore
    from smoltable_spark.streaming.store_cdc import (
        StoreChangeRollup,
        stream_store_changes,
        stream_store_rollup,
    )

    store = ZorderCellStore(
        spark,
        str(tmp_path / "z"),
        a_bucket=lambda: F.length(F.col("row_key")) % 4,
        b_bucket=lambda: F.col("ts") % 4,
        bits=2,
    )
    store.save_families([ColumnFamilyDef("f")])
    store.write(_cells(spark, [("a", 1, "v0")]))
    roll = StoreChangeRollup(
        spark, str(tmp_path / "roll"), keys=["family"], sums={"n": "1"},
        store=store,
    )

    def drain():
        s = stream_store_changes(spark, store)
        q = stream_store_rollup(s, roll, str(tmp_path / "ckpt"))
        assert q.awaitTermination(120)

    store.append(_cells(spark, [("bb", 2, "w")]))
    store.append(_cells(spark, [("ccc", 3, "x")]))
    drain()  # the two deltas; a layout store's base is not streamed
    m = store.minor_compact()
    assert store._kind(m) == "minor"
    store.append(_cells(spark, [("dddd", 4, "y")]))
    drain()
    assert roll.processed_rows() == 3  # the fold's cells never arrived


def test_cdc_stream_resyncs_when_fold_originals_vacuumed(spark, tmp_path):
    """The conservative stream horizon is start_version: once a fold's
    post-horizon originals are vacuumed, consumption of their files can
    no longer be proven and the guard must force a resync (the batch
    path's exact straddle rule). Retention sized to consumer lag avoids
    this, as with any change-feed."""
    from smoltable_spark.streaming.store_cdc import StoreChangeRollup

    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    rollup = StoreChangeRollup(
        spark,
        str(tmp_path / "rollup"),
        keys=["row_key"],
        sums={"n": "1"},
        store=store,
    )
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    store.minor_compact()
    rollup.guard_chain()  # originals on disk: fold is benign
    store.vacuum(keep_last=1)  # reclaims the folded originals
    with pytest.raises(ValueError, match="vacuumed"):
        rollup.guard_chain()


def test_cdc_stream_rejects_legacy_plain_minor_leg(spark, tmp_path):
    """A minor leg under the pre-r10 PLAIN dir name is visible to the
    file source (double-count hazard) — the guard must keep raising the
    resync error for stores compacted by the old code."""
    from smoltable_spark.streaming.store_cdc import StoreChangeRollup

    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    rollup = StoreChangeRollup(
        spark,
        str(tmp_path / "rollup"),
        keys=["row_key"],
        sums={"n": "1"},
        store=store,
    )
    store.append(_cells(spark, [("b", 1, "w")]))
    store.append(_cells(spark, [("c", 1, "x")]))
    m = store.minor_compact()
    os.rename(
        store._version_dir(m), os.path.join(store.path, f"v={m}")
    )  # simulate an r9-committed store
    with pytest.raises(ValueError, match="rewrite"):
        rollup.guard_chain()


def test_chain_guard_reads_only_the_pointer_and_one_listing(spark, tmp_path):
    """The guard resolves the store's pointer once per call and takes
    every kind and fold range from its manifest: one listing of the
    store root and one file read, the pointer, however long the chain."""
    from smoltable_spark.sources.store_fs import LocalStoreFS
    from smoltable_spark.streaming.store_cdc import StoreChangeRollup

    store = _mk(spark, tmp_path)
    store.write(_cells(spark, [("a", 1, "v0")]))
    rollup = StoreChangeRollup(
        spark,
        str(tmp_path / "rollup"),
        keys=["row_key"],
        sums={"n": "1"},
        store=store,
    )
    for rk in ("b", "c", None, "d", "e", None):
        if rk is None:
            store.minor_compact()
        else:
            store.append(_cells(spark, [(rk, 1, "w")]))

    calls = []

    class Spy(LocalStoreFS):
        def __getattribute__(self, name):
            if name in ("listdir", "list_status", "read_text", "exists",
                        "isdir", "walk_files"):
                calls.append(name)
            return super().__getattribute__(name)

    store._fs = Spy()
    for _ in range(2):
        calls.clear()
        rollup.guard_chain()
        assert calls == ["listdir", "read_text"]
    assert store.current_version() == 7


def test_delta_legs_carry_row_key_bloom(spark, tmp_path):
    """Delta/minor legs are written with a row_key bloom filter (the
    LSM point-read parity: scattered delta keys defeat min/max range
    skipping, so get_row probes need the bloom to drop absent legs on
    metadata); the sorted base leg is NOT taxed with one. Pinned via
    the file-size delta (pyarrow does not expose bloom offsets) plus a
    correct equality read through the bloom-carrying chain."""
    rows = [(f"k#{i * 7919 % 100000:07d}", 1, f"v{i}") for i in range(2000)]
    store = _mk(spark, tmp_path, "bloom_on")
    store.write(_cells(spark, rows[:100]))
    store.append(_cells(spark, rows))

    plain = _mk(spark, tmp_path, "bloom_off")
    try:
        plain.DELTA_WRITE_OPTIONS = {}
        plain.write(_cells(spark, rows[:100]))
        plain.append(_cells(spark, rows))
    finally:
        del plain.DELTA_WRITE_OPTIONS  # restore class attr lookup

    def leg_size(s, v):
        d = s._version_dir(v)
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _dirs, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    # delta leg grew by the bloom bytes; base leg identical layout
    assert leg_size(store, 2) > leg_size(plain, 2)
    assert abs(leg_size(store, 1) - leg_size(plain, 1)) < 1024
    # equality probe through the bloom-carrying chain stays exact
    key = rows[150][0]
    got = store.read().filter(F.col("row_key") == key).count()
    want = sum(1 for r in rows if r[0] == key)
    assert got == want and got >= 1
