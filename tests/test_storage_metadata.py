"""The shared storage-metadata layer (``sources/store_fs.py``): the
generation pointer's race rules as every structure sees them, the
streaming metas' create-if-absent commit, and the pinned leg-read
schema of ``CellStore._merge_legs``."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from smoltable_spark.api import ColumnFamilyDef
from smoltable_spark.sources.store import CellStore
from smoltable_spark.sources.store_fs import (
    ConcurrentCommitError,
    GenerationPointer,
    LocalStoreFS,
)
from smoltable_spark.sources.store_layout import ZorderCellStore
from smoltable_spark.streaming.dedup_stream import MinhashAdmitter
from smoltable_spark.streaming.store_cdc import StoreChangeRollup

from tests.conftest import make_cells
from tests.test_round13 import _cpdel


# ---------------------------------------------------------------------------
# the pointer


def _write(base, name, payload):
    with open(os.path.join(base, name), "w") as fh:
        fh.write(json.dumps(payload))


def test_ivf_pointer_vacuum_race_relists_to_newer(tmp_path):
    """The newest listed ``_LISTGEN`` generation is swept after a newer
    one is published: the reader must re-list and serve the newer
    pointer, not fall back to an older (stale) serving state."""
    from smoltable_spark.functions.similarity import _ivf_pointer

    base = str(tmp_path)
    for m in (1, 2, 3):
        _write(base, f"_LISTGEN-v{m}", {"v": m, "lists": {"7": m}})

    class RacingFS(LocalStoreFS):
        raced = False

        def read_text(self, p):
            if not self.raced and p.endswith("_LISTGEN-v3"):
                self.raced = True
                _write(base, "_LISTGEN-v4", {"v": 4, "lists": {"7": 4}})
                os.remove(p)
                raise FileNotFoundError(p)
            return super().read_text(p)

    fs = RacingFS()
    m, gmap, _meta = _ivf_pointer(fs, base)
    assert fs.raced
    assert (m, gmap) == (4, {7: 4})


def test_pointer_resolves_max_over_plain_and_generations(tmp_path):
    base = str(tmp_path)
    p = GenerationPointer(LocalStoreFS(), base, "_P")
    assert p.resolve() == (0, None)
    _write(base, "_P", {"x": "legacy"})  # legacy plain form, no number
    assert p.resolve() == (0, {"x": "legacy"})
    _write(base, "_P-v2", {"x": "gen", "v": 2})
    assert p.resolve() == (2, {"x": "gen", "v": 2})
    _write(base, "_P", {"x": "plain", "v": 3})
    assert p.resolve() == (3, {"x": "plain", "v": 3})
    with open(os.path.join(base, "_P"), "w") as fh:
        fh.write("{torn")
    with pytest.raises(ValueError):  # only ever swapped in: corruption
        p.resolve()


def test_pointer_commit_sweeps_torn_garbage_once(tmp_path):
    base = str(tmp_path)
    p = GenerationPointer(LocalStoreFS(), base, "_P", swap=False)
    with open(os.path.join(base, "_P-v1"), "w") as fh:
        fh.write('{"v": 1, "x"')  # a crashed writer's half file
    assert p.resolve() == (0, None)
    p.commit(1, {"x": "a"})
    assert p.resolve() == (1, {"x": "a", "v": 1})
    with pytest.raises(ConcurrentCommitError, match="v1"):
        p.commit(1, {"x": "b"})
    assert p.resolve() == (1, {"x": "a", "v": 1})


def test_pointer_keep_bounds_generations(tmp_path):
    base = str(tmp_path)
    p = GenerationPointer(LocalStoreFS(), base, "_P", swap=False, keep=2)
    for n in range(1, 6):
        p.commit(n, {})
    assert p.generations() == [5, 4]
    assert p.resolve() == (5, {"v": 5})


# ---------------------------------------------------------------------------
# streaming metas: one winner, loud loser


def _rollup(spark, path):
    return StoreChangeRollup(spark, path, keys=["family"], sums={"n": "1"})


def _admitter(spark, path):
    return MinhashAdmitter(spark, path)


@pytest.mark.parametrize("make", [_rollup, _admitter], ids=["rollup", "admitter"])
def test_cpdel_racing_meta_writers_one_winner(spark, tmp_path, make):
    path = _cpdel(spark, tmp_path) + "/state"
    a, b = make(spark, path), make(spark, path)
    assert a._fs.atomic_rename is False
    ma, mb = a._meta(), b._meta()  # both read the same generation
    a._commit_meta({**ma, "last_batch_id": 1})
    with pytest.raises(ConcurrentCommitError):
        b._commit_meta({**mb, "last_batch_id": 2})
    assert make(spark, path)._meta()["last_batch_id"] == 1
    # the winner's handle keeps committing on top of its own generation
    a._commit_meta({**a._meta(), "last_batch_id": 3})
    assert make(spark, path)._meta()["last_batch_id"] == 3


@pytest.mark.parametrize(
    "make,name", [(_rollup, "_ROLLUP_META.json"), (_admitter, "_META")],
    ids=["rollup", "admitter"],
)
def test_file_meta_written_by_plain_overwrite_still_reads(spark, tmp_path, make, name):
    """A meta in the plain single-file form (no generation number) is
    read back through both adapters, and the next commit supersedes it
    in place on a rename-atomic filesystem."""
    local = tmp_path / "state"
    os.makedirs(local)
    legacy = {"last_batch_id": 4, "version": 0, "checkpoint": "/ck"}
    (local / name).write_text(json.dumps(legacy))
    for path in (str(local), "file:" + str(local)):
        assert make(spark, path)._meta() == legacy
    h = make(spark, "file:" + str(local))
    h._commit_meta({**h._meta(), "last_batch_id": 5})
    assert make(spark, str(local))._meta()["last_batch_id"] == 5
    assert sorted(n for n in os.listdir(local) if n.startswith(name)) == [name]


# ---------------------------------------------------------------------------
# pinned leg schema


def _stores(spark, tmp_path):
    yield CellStore(spark, str(tmp_path / "flat"))
    yield ZorderCellStore(
        spark, str(tmp_path / "z"),
        a_bucket=lambda: F.col("ts") % 4, b_bucket=lambda: F.col("ts") % 2,
        bits=2,
    )


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_leg_schema_matches_inference_and_read_runs_no_job(spark, tmp_path):
    for store in _stores(spark, tmp_path):
        store.save_families([ColumnFamilyDef("f")])
        store.write(make_cells(
            spark, [(f"k{i}", "f", "", i, "string", "a") for i in range(8)]
        ))
        for k in ("k1", "k2"):
            store.append(make_cells(spark, [(k, "f", "", 9, "string", "b")]))
        store.minor_compact()
        store.append(make_cells(spark, [("k3", "f", "", 9, "string", "c")]))
        name = type(store).__name__
        kinds = {}
        pinned = spark.read.schema(store._leg_schema())
        for v in store._legs_of(store.current_version()):
            d = store._version_dir(v)
            kinds[store._kind(v)] = v
            assert pinned.parquet(d).schema == spark.read.parquet(d).schema, (name, v)
        assert set(kinds) == {"base", "minor", "delta"}, (name, kinds)
        # the probe sees the inference job an unpinned read runs
        assert _jobs_in(spark, f"{name}-infer",
                        lambda: spark.read.parquet(store._version_dir(1))) >= 1
        assert _jobs_in(spark, f"{name}-read", store.read) == 0
        assert store.read().count() == 11
