"""The shared storage-metadata layer (``sources/store_fs.py``): the
generation pointer's race rules as every structure sees them, racing
writers getting one winner on every filesystem, and the pinned leg-read
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
    """The newest generation wins; a plain ``_P`` file — the older
    single-file layout, whatever its content — is refused, because
    reading it as "no commit" would let the next commit reuse a
    committed number."""
    base = str(tmp_path)
    p = GenerationPointer(LocalStoreFS(), base, "_P")
    assert p.resolve() == (0, None)
    _write(base, "_P-v1", {"x": "old", "v": 1})
    _write(base, "_P-v2", {"x": "gen", "v": 2})
    assert p.resolve() == (2, {"x": "gen", "v": 2})
    for legacy in ({"x": "legacy"}, {"x": "plain", "v": 3}, 3):
        _write(base, "_P", legacy)
        with pytest.raises(IOError, match="older layout"):
            p.resolve()
        with pytest.raises(IOError, match="older layout"):
            p.resolve_listed()


def test_pointer_commit_sweeps_torn_garbage_once(tmp_path):
    base = str(tmp_path)
    p = GenerationPointer(LocalStoreFS(), base, "_P")
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
    p = GenerationPointer(LocalStoreFS(), base, "_P", keep=2)
    for n in range(1, 6):
        p.commit(n, {})
    assert p.generations() == [5, 4]
    assert p.resolve() == (5, {"v": 5})


# ---------------------------------------------------------------------------
# racing writers: one winner, loud loser, on every filesystem


def _rollup(spark, path):
    return StoreChangeRollup(spark, path, keys=["family"], sums={"n": "1"})


def _admitter(spark, path):
    return MinhashAdmitter(spark, path)


@pytest.mark.parametrize("make", [_rollup, _admitter], ids=["rollup", "admitter"])
def test_racing_meta_writers_one_winner(spark, tmp_path, mkuri, make):
    path = mkuri(tmp_path) + "/state"
    a, b = make(spark, path), make(spark, path)
    ma, mb = a._meta(), b._meta()  # both read the same generation
    a._commit_meta({**ma, "last_batch_id": 1})
    with pytest.raises(ConcurrentCommitError):
        b._commit_meta({**mb, "last_batch_id": 2})
    assert make(spark, path)._meta()["last_batch_id"] == 1
    # the winner's handle keeps committing on top of its own generation
    a._commit_meta({**a._meta(), "last_batch_id": 3})
    assert make(spark, path)._meta()["last_batch_id"] == 3


def test_commit_writes_no_metadata_file_but_its_pointer(spark, tmp_path):
    """The pointer generation is the only metadata file a base or delta
    commit writes; a minor commit also writes its leg's root name. No
    leg dir gets a marker file."""
    written = []

    class Spy(LocalStoreFS):
        def write_text(self, p, content):
            written.append(os.path.basename(p))
            super().write_text(p, content)

        def replace_text(self, p, content):
            written.append(os.path.basename(p))
            super().replace_text(p, content)

        def create_exclusive(self, p, content):
            written.append(os.path.basename(p))
            super().create_exclusive(p, content)

    s = CellStore(spark, str(tmp_path / "t"))
    s.save_families([ColumnFamilyDef("f")])
    s._fs = Spy()

    def commit(op, *args):
        written.clear()
        v = op(*args)
        return v, list(written)

    def cells(tag):
        return make_cells(spark, [("k", "f", "", 1, "string", tag)])

    assert commit(s.write, cells("a")) == (1, ["_VERSION-v1"])
    assert commit(s.append, cells("b")) == (2, ["_VERSION-v2"])
    assert commit(s.append, cells("c")) == (3, ["_VERSION-v3"])
    assert commit(s.minor_compact) == (4, ["_FOLDS-v4", "_VERSION-v4"])
    assert commit(s.compact) == (5, ["_VERSION-v5"])
    assert os.path.getsize(os.path.join(s.path, "_FOLDS-v4")) == 0
    leg_files = {
        f for v in range(1, 6) for _r, _d, fs in os.walk(s._version_dir(v))
        for f in fs
    }
    assert not {f for f in leg_files if f.startswith("_") and f != "_SUCCESS"}


def test_racing_store_writers_one_winner(spark, tmp_path, mkuri):
    """Two CellStore handles commit the same next version: exactly one
    wins, the other raises, and the winner's pointer is what a fresh
    handle resolves."""
    path = mkuri(tmp_path / "t")
    a, b = CellStore(spark, path), CellStore(spark, path)
    a.save_families([ColumnFamilyDef("f")])
    a.write(make_cells(spark, [("k", "f", "", 1, "string", "a")]))
    n = a.current_version() + 1
    assert b.current_version() + 1 == n
    a._commit_version(n)
    with pytest.raises(ConcurrentCommitError, match=f"v{n}"):
        b._commit_version(n)
    assert CellStore(spark, path).current_version() == n
    names = a._fs.listdir(a.path)
    assert sorted(x for x in names if x.startswith("_VERSION")) == [
        "_VERSION-v1", f"_VERSION-v{n}"
    ]


@pytest.mark.parametrize(
    "make,name", [(_rollup, "_ROLLUP_META.json"), (_admitter, "_META")],
    ids=["rollup", "admitter"],
)
def test_file_meta_written_by_plain_overwrite_still_reads(spark, tmp_path, make, name):
    """A meta in the plain single-file form an older layout wrote on a
    rename-atomic filesystem is refused through both adapters, rather
    than read as an empty meta whose next commit would start over at
    generation 1; commits write generations."""
    local = tmp_path / "state"
    os.makedirs(local)
    legacy = {"last_batch_id": 4, "version": 0, "checkpoint": "/ck"}
    (local / name).write_text(json.dumps(legacy))
    for path in (str(local), "file:" + str(local)):
        with pytest.raises(IOError, match="older layout"):
            make(spark, path)._meta()
    os.remove(local / name)
    h = make(spark, "file:" + str(local))
    h._commit_meta({**h._meta(), "last_batch_id": 5})
    assert make(spark, str(local))._meta()["last_batch_id"] == 5
    assert sorted(n for n in os.listdir(local) if n.startswith(name)) == [
        f"{name}-v1"
    ]


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
