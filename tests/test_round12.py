"""The rename-free ``_VERSION`` generation protocol (the one commit
form on every filesystem), the pointer's chain manifest that makes a
chain open cost one metadata read, and ``.tmp`` leftovers beside the
pointer.

The rename-unsafe double models an object store with LOCAL syscalls:
``atomic_rename = False`` plus a deliberately TORN ``replace_text``
(delete-then-write, i.e. the copy+delete rename window made maximally
visible) — so if any commit path still routed a reader-visible file
through rename-on-unsafe-scheme, a racing reader in these tests would
observe the missing-pointer window immediately.
"""

from __future__ import annotations

import json
import os

import pytest

from smoltable_spark.api import ColumnFamilyDef
from smoltable_spark.sources.store import CellStore
from smoltable_spark.sources.store_fs import (
    LocalStoreFS,
    RENAME_ATOMIC_SCHEMES,
    store_fs_for,
)

from tests.conftest import make_cells


class RenameUnsafeFS(LocalStoreFS):
    """LocalStoreFS with the object-store capability profile."""

    atomic_rename = False

    def __init__(self):
        self.replace_calls = 0

    def replace_text(self, p: str, content: str) -> None:
        # torn copy+delete: the destination is MISSING mid-"rename".
        # The store must never route a reader-visible file through this
        # on a rename-unsafe filesystem; the counter proves it didn't.
        self.replace_calls += 1
        if os.path.exists(p):
            os.remove(p)
        self.write_text(p, content)


class ReadCountingFS(LocalStoreFS):
    """Spy: records the file names read_text reads."""

    def __init__(self):
        self.reads = []

    def read_text(self, p: str) -> str:
        self.reads.append(os.path.basename(p))
        return super().read_text(p)


def _unsafe_store(spark, path: str) -> CellStore:
    s = CellStore(spark, str(path))
    s._fs = RenameUnsafeFS()
    return s


def _append(spark, store, tag: str, n: int = 2):
    rows = [(f"k{i}", "f", "", 1, "string", f"{tag}.{i}") for i in range(n)]
    store.append(make_cells(spark, rows))


# ---------------------------------------------------------------------------
# capability probe


def test_probe_local_and_file_uri_are_atomic(spark, tmp_path):
    assert LocalStoreFS().atomic_rename is True
    h = store_fs_for(spark, "file:" + str(tmp_path / "u"))
    assert h.scheme == "file" and h.atomic_rename is True


def test_probe_unknown_scheme_defaults_to_unsafe():
    # the allowlist is the contract: anything off it is copy+delete
    for scheme in ("s3a", "gs", "oss", "wasb", "made-up"):
        assert scheme not in RENAME_ATOMIC_SCHEMES
    for scheme in ("file", "hdfs", "viewfs"):
        assert scheme in RENAME_ATOMIC_SCHEMES


# ---------------------------------------------------------------------------
# rename-free generation protocol


def test_unsafe_store_commits_generations_never_rename(spark, tmp_path):
    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    _append(spark, s, "b")
    s.compact()
    names = sorted(os.listdir(s.path))
    gens = [n for n in names if n.startswith("_VERSION-v")]
    assert gens == ["_VERSION-v1", "_VERSION-v2", "_VERSION-v3"]
    assert "_VERSION" not in names  # no plain pointer ever written
    assert s._fs.replace_calls == 0  # the torn path was never taken
    assert s.current_version() == 3
    assert s.read().count() == 2


def test_generation_and_plain_pointer_interoperate(spark, tmp_path):
    """Handles of either capability profile commit the same generation
    files, so a store moved between schemes keeps resolving; a plain
    ``_VERSION`` file (the older single-file layout) is refused."""
    s = CellStore(spark, str(tmp_path / "t"))
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")  # rename-atomic local path
    s2 = _unsafe_store(spark, tmp_path / "t")
    _append(spark, s2, "b")
    _append(spark, CellStore(spark, str(tmp_path / "t")), "c")
    names = os.listdir(s.path)
    assert sorted(n for n in names if n.startswith("_VERSION")) == [
        "_VERSION-v1", "_VERSION-v2", "_VERSION-v3"
    ]
    assert CellStore(spark, str(tmp_path / "t")).current_version() == 3
    assert _unsafe_store(spark, tmp_path / "t").current_version() == 3
    with open(os.path.join(s.path, "_VERSION"), "w") as fh:
        fh.write(json.dumps({"v": 4, "legs": {}}))
    for h in (CellStore(spark, str(tmp_path / "t")),
              _unsafe_store(spark, tmp_path / "t")):
        with pytest.raises(IOError, match="older layout"):
            h.current_version()


def test_crash_before_pointer_publish_serves_previous_version(spark, tmp_path):
    """Writer crash after data+markers but before the generation write:
    a reader resolves the PREVIOUS version and reads it completely."""
    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    _append(spark, s, "b")
    os.remove(os.path.join(s.path, "_VERSION-v2"))  # crash simulation
    r = _unsafe_store(spark, tmp_path / "t")
    assert r.current_version() == 1
    assert sorted(x["v_str"] for x in r.read().collect()) == ["a.0", "a.1"]
    # and a writer re-run converges: next commit is v2 again
    _append(spark, r, "b2")
    assert r.current_version() == 2


def test_vacuum_sweeps_old_generations_keeps_retained(spark, tmp_path):
    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    for i in range(5):
        _append(spark, s, f"a{i}")
    s.vacuum(keep_last=2)
    gens = sorted(
        n for n in os.listdir(s.path) if n.startswith("_VERSION-v")
    )
    assert gens == ["_VERSION-v4", "_VERSION-v5"]
    assert s.current_version() == 5


# ---------------------------------------------------------------------------
# .tmp staging leftovers (fault injection, ask #6)


def test_stale_tmp_leftovers_are_ignored_and_swept(spark, tmp_path):
    """Foreign ``.tmp`` names beside the generations (an older layout's
    staged swap, a crashed tool) are never parsed as a pointer, and
    commits neither read nor write them."""
    s = CellStore(spark, str(tmp_path / "t"))
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    with open(os.path.join(s.path, "_VERSION.tmp"), "w") as fh:
        fh.write("999")
    with open(os.path.join(s.path, "_VERSION-v999.tmp"), "w") as fh:
        fh.write("{")
    r = CellStore(spark, str(tmp_path / "t"))
    assert r.current_version() == 1  # readers ignore .tmp leftovers
    assert _unsafe_store(spark, tmp_path / "t").current_version() == 1
    _append(spark, r, "b")
    assert r.current_version() == 2
    assert sorted(n for n in os.listdir(s.path) if n.startswith("_VERSION")) == [
        "_VERSION-v1", "_VERSION-v2", "_VERSION-v999.tmp", "_VERSION.tmp"
    ]
    assert open(os.path.join(s.path, "_VERSION.tmp")).read() == "999"


# ---------------------------------------------------------------------------
# chain manifest: one pointer read resolves the whole chain (ask #7)


def test_pointer_manifest_makes_open_one_read(spark, tmp_path):
    s = CellStore(spark, str(tmp_path / "t"))
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "base")
    _append(spark, s, "d1")
    _append(spark, s, "d2")
    s.minor_compact()
    _append(spark, s, "d3")
    # fresh handle with a read-counting FS: resolving the chain reads
    # the pointer once and no other file
    r = CellStore(spark, str(tmp_path / "t"))
    spy = ReadCountingFS()
    r._fs = spy
    cur = r.current_version()
    legs = r._legs_of(cur)
    kinds = [r._kind(v) for v in legs]
    folds = [r._folds_of(v) for v in legs]
    assert cur == 5 and legs == [4, 5]
    assert kinds == ["minor", "delta"]
    assert folds == [(1, 3), None]
    assert spy.reads == ["_VERSION-v5"], spy.reads


def test_pointer_without_chain_manifest_is_refused(spark, tmp_path):
    """The pointer's chain manifest is the only record of the legs'
    kinds: a plain-int ``_VERSION`` file, a generation with no manifest
    and one with the older ``"legs"`` manifest are all refused with the
    rebuild error, not read as an empty store or guessed at."""
    s = CellStore(spark, str(tmp_path / "t"))
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    _append(spark, s, "b")
    plain = os.path.join(s.path, "_VERSION")
    with open(plain, "w") as fh:
        fh.write("2")  # the legacy format
    with pytest.raises(IOError, match="older layout"):
        CellStore(spark, str(tmp_path / "t")).current_version()
    os.remove(plain)
    for payload in ({"v": 2}, {"v": 2, "legs": {"1": ["delta", None]}}):
        with open(os.path.join(s.path, "_VERSION-v2"), "w") as fh:
            fh.write(json.dumps(payload))
        r = CellStore(spark, str(tmp_path / "t"))
        with pytest.raises(IOError, match="older layout.*rebuild"):
            r.current_version()
    # a manifest that misses a listed leg at or below the pointer
    with open(os.path.join(s.path, "_VERSION-v2"), "w") as fh:
        fh.write(json.dumps({"v": 2, "chain": {"2": ["delta", None]}}))
    with pytest.raises(IOError, match=r"legs \[1\].*older layout"):
        CellStore(spark, str(tmp_path / "t")).read()


def test_pointer_manifest_holds_exactly_the_listed_legs(spark, tmp_path):
    """Each commit's manifest records exactly the legs its root listing
    names at or below it: every leg of the chain, and after a vacuum
    and one more commit nothing the vacuum removed."""
    s = CellStore(spark, str(tmp_path / "t"))
    s.save_families([ColumnFamilyDef("f")])
    for i in range(3):
        _append(spark, s, f"a{i}")

    def chain(v):
        d = json.loads(open(os.path.join(s.path, f"_VERSION-v{v}")).read())
        assert d["v"] == v and "legs" not in d
        return d["chain"]

    assert chain(3) == {
        "1": ["delta", None], "2": ["delta", None], "3": ["delta", None]
    }
    m = s.minor_compact()
    assert chain(m)[str(m)] == ["minor", [1, 3]]
    s.compact()
    s.vacuum(keep_last=1)
    _append(spark, s, "b")
    cur = s.current_version()
    listed = sorted(v for v in s._leg_dirs)
    assert listed == [cur - 1, cur]
    assert sorted(int(v) for v in chain(cur)) == listed
    assert chain(cur) == {str(cur - 1): ["base", None], str(cur): ["delta", None]}


# ---------------------------------------------------------------------------
# IVF fold on rename-unsafe schemes


def test_ivf_fold_on_rename_unsafe_scheme_goes_generational(
    spark, tmp_path, monkeypatch
):
    """A fold on a rename-unsafe scheme publishes via the rename-free
    ``_LISTGEN`` generation pointer, like everywhere else: no
    reader-visible dir is ever renamed."""
    import os

    import pyspark.sql.functions as F

    from smoltable_spark.functions import ann_index, similarity
    from smoltable_spark.sources.relational import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf_gate")
    similarity.build_ivf_index(emb, path, n_centroids=8)
    ann_index.delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 6).select("vec_id")
    )

    class UnsafeLocalFS(LocalStoreFS):
        scheme = "s3a"  # what the probe would report for an S3A index
        atomic_rename = False

        renames: list = []

        def rename(self, src, dst):
            UnsafeLocalFS.renames.append((src, dst))
            return super().rename(src, dst)

    monkeypatch.setattr(ann_index, "store_fs_for", lambda _s, _b: UnsafeLocalFS())
    stats = ann_index.compact_ivf_index(spark, path)
    assert stats == {"tombstones": 1, "lists_rewritten": 1}
    assert similarity.ivf_tombstones(spark, path) is None
    # the commit point was a pointer CREATE; no rename of anything
    # reader-visible ever happened
    assert UnsafeLocalFS.renames == []
    assert os.path.exists(os.path.join(path, "_LISTGEN-v1"))
    m, gmap = similarity.ivf_list_generations(spark, path)
    assert m == 1 and set(gmap.values()) <= {0, 1}
    # serving masks exactly the deleted vector, through the pointer
    res = similarity.query_ivf_index(
        spark, path, emb.limit(3), k=5, nprobe=8
    )
    assert res.filter(F.col("neighbor_id") == 6).count() == 0
    assert res.count() > 0


# ---------------------------------------------------------------------------
# BPE: sampled training + lineage truncation (VERDICT r11 ask #8 / ADVICE)


def _bpe_docs(spark):
    rows = [
        (i, ("banana bandana " * 3) + ("cabana " * (i % 3)))
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bpe_sample_fraction_one_is_bit_identical(spark):
    from smoltable_spark.functions.text import bpe_train

    docs = _bpe_docs(spark)
    base = [tuple(r) for r in bpe_train(docs, n_merges=4).collect()]
    same = [
        tuple(r)
        for r in bpe_train(docs, n_merges=4, sample_fraction=1.0).collect()
    ]
    assert base == same  # fraction=1.0 bypasses the sampler entirely


def test_bpe_sampled_training_is_seeded_and_valid(spark):
    from smoltable_spark.functions.text import bpe_train

    docs = _bpe_docs(spark)
    a = [tuple(r) for r in bpe_train(docs, n_merges=4, sample_fraction=0.5).collect()]
    b = [tuple(r) for r in bpe_train(docs, n_merges=4, sample_fraction=0.5).collect()]
    assert a == b  # same seed -> same sample -> same merge table
    assert len(a) == 4 and all(row[3] == row[1] + row[2] for row in a)


def test_bpe_merge_table_is_pinned(spark):
    """Every round's state is a lineage-truncating materialization; the
    learned merge table must be exactly the one the per-round persist
    trainer produced (ties at 36 break bytewise on lhs, then rhs)."""
    from smoltable_spark.functions import text

    docs = _bpe_docs(spark)
    got = [tuple(r) for r in text.bpe_train(docs, n_merges=8).collect()]
    assert got == [
        (1, "a", "n", "an", 156),
        (2, "an", "a", "ana", 84),
        (3, "b", "an", "ban", 72),
        (4, "ban", "ana", "banana", 36),
        (5, "ban", "d", "band", 36),
        (6, "band", "ana", "bandana", 36),
        (7, "a", "b", "ab", 12),
        (8, "ab", "ana", "abana", 12),
    ]


def test_cdc_guard_and_changes_over_unsafe_store(spark, tmp_path):
    """Change feeds over a rename-unsafe store: the guard's kind walk and
    read_changes resolve through generation pointers exactly as through
    the plain pointer (the CDC poll loop calls current_version per
    trigger — it must observe commits published by the rename-free
    protocol)."""
    from smoltable_spark.streaming.store_cdc import StoreChangeRollup

    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    roll = StoreChangeRollup(
        spark, str(tmp_path / "roll"), keys=["family"],
        sums={"n": "1"}, store=s,
    )
    roll.guard_chain()
    _append(spark, s, "b")
    _append(spark, s, "c")
    m = s.minor_compact()
    assert s._kind(m) == "minor"
    roll.guard_chain()  # fold classified benign through generations
    # O(changes) feed across the fold on the unsafe store
    assert s.read_changes(1).count() == 2
    # a base rewrite (compact) is flagged by a FRESH incarnation
    s.compact()
    fresh = StoreChangeRollup(
        spark, str(tmp_path / "roll"), keys=["family"],
        sums={"n": "1"}, store=s,
    )
    with pytest.raises(ValueError, match="rewrite"):
        fresh.guard_chain()


def test_generation_protocol_through_jvm_fs(spark, tmp_path):
    """The rename-free protocol through the REAL HadoopStoreFS (JVM
    FileSystem write/list/read), not just the Python double: force the
    object-store capability profile on a file:-URI store and run the
    lifecycle — generation files written via fs.create, resolved via
    listStatus, swept by vacuum."""
    uri = "file:" + str(tmp_path / "t")
    s = CellStore(spark, uri)
    s._fs.atomic_rename = False  # probe override: object-store profile
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    _append(spark, s, "b")
    s.compact()
    names = os.listdir(tmp_path / "t")
    assert [n for n in sorted(names) if n.startswith("_VERSION-v")] == [
        "_VERSION-v1", "_VERSION-v2", "_VERSION-v3"
    ]
    assert "_VERSION" not in names
    # fresh handles on BOTH dispatch paths resolve the same state
    r_uri = CellStore(spark, uri)
    r_local = CellStore(spark, str(tmp_path / "t"))
    assert r_uri.current_version() == r_local.current_version() == 3
    assert r_uri.read().count() == r_local.read().count() == 2
    s.vacuum(keep_last=1)
    assert sorted(
        n for n in os.listdir(tmp_path / "t") if n.startswith("_VERSION-v")
    ) == ["_VERSION-v3"]
    assert CellStore(spark, uri).read().count() == 2
