"""Round-13 pins: the generation-commit CAS (VERDICT r12 ask #1) and the
degraded-pointer resolution paths (ADVICE r12).

- ``create_exclusive`` is an atomic create-if-absent on BOTH adapters
  (``open(..., 'x')`` locally; ``FileSystem.create(path, overwrite=false)``
  through the JVM), raising Python ``FileExistsError`` uniformly.
- ``_commit_version`` publishes through that CAS on every filesystem:
  two writers racing to the same generation get exactly one winner and
  a loud :class:`ConcurrentCommitError`, never a silent
  last-writer-wins.
- A TORN newest generation (crashed writer on a flush-visible scheme,
  e.g. wasb/abfs) is pre-commit garbage: readers fall back to the
  next-lower parsable generation and the next commit sweeps the file.
- A generation vacuumed between a reader's listing and its read
  (fast-moving writers + aggressive retention) re-lists and retries
  instead of propagating FileNotFoundError.
"""

from __future__ import annotations

import json
import os

import pytest

from smoltable_spark.api import ColumnFamilyDef
from smoltable_spark.sources.store import ConcurrentCommitError
from smoltable_spark.sources.store_fs import HadoopStoreFS, LocalStoreFS

from tests.conftest import make_cells
from tests.test_round12 import RenameUnsafeFS, _append, _unsafe_store


# ---------------------------------------------------------------------------
# create_exclusive: the CAS primitive


def test_create_exclusive_local(tmp_path):
    fs = LocalStoreFS()
    p = str(tmp_path / "k")
    fs.create_exclusive(p, "one")
    assert fs.read_text(p) == "one"
    with pytest.raises(FileExistsError):
        fs.create_exclusive(p, "two")
    assert fs.read_text(p) == "one"  # the loser never mutated the winner


def test_create_exclusive_jvm(spark, tmp_path, mkuri):
    base = mkuri(tmp_path)
    fs = HadoopStoreFS(spark, base)
    p = base + "/k"
    fs.create_exclusive(p, "one")
    assert fs.read_text(p) == "one"
    with pytest.raises(FileExistsError):
        fs.create_exclusive(p, "two")
    assert fs.read_text(p) == "one"


# ---------------------------------------------------------------------------
# generation-commit CAS: one winner, loud loser


def test_generation_commit_conflict_is_loud(spark, tmp_path):
    a = _unsafe_store(spark, tmp_path / "t")
    a.save_families([ColumnFamilyDef("f")])
    _append(spark, a, "a")
    b = _unsafe_store(spark, tmp_path / "t")
    # both writers resolve the same next generation, then race the CAS
    n = a.current_version() + 1
    assert b.current_version() + 1 == n
    a._commit_version(n)
    with pytest.raises(ConcurrentCommitError, match=f"v{n}"):
        b._commit_version(n)
    # the winner's pointer content is intact
    fresh = _unsafe_store(spark, tmp_path / "t")
    assert fresh.current_version() == n


def test_append_after_conflict_recovers(spark, tmp_path):
    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    # a foreign writer publishes the generation this handle would use
    other = _unsafe_store(spark, tmp_path / "t")
    other._commit_version(other.current_version() + 1)
    # the next append re-resolves current_version() at commit time, so it
    # lands on a FRESH generation, not a conflict
    _append(spark, s, "b")
    assert s.current_version() == 3


# ---------------------------------------------------------------------------
# torn newest generation: fall back, then sweep


def test_torn_newest_generation_falls_back(spark, tmp_path):
    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    _append(spark, s, "b")
    assert s.current_version() == 2
    # a crashed writer on a flush-visible scheme left half a pointer
    torn = os.path.join(s.path, "_VERSION-v3")
    with open(torn, "w") as fh:
        fh.write('{"v": 3, "le')  # truncated mid-JSON
    fresh = _unsafe_store(spark, tmp_path / "t")
    assert fresh.current_version() == 2  # garbage is not a commit
    assert fresh.read().count() == 2
    # the next commit sweeps the garbage and takes the generation
    _append(spark, fresh, "c")
    assert fresh.current_version() == 3
    got = json.loads(fresh._fs.read_text(torn))
    assert got["v"] == 3  # the torn file was replaced by a real commit


def test_torn_generation_below_a_real_commit_is_skipped(spark, tmp_path):
    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    _append(spark, s, "b")
    # corrupt the OLDER generation; the max is intact and must win
    with open(os.path.join(s.path, "_VERSION-v1"), "w") as fh:
        fh.write("garbage")
    fresh = _unsafe_store(spark, tmp_path / "t")
    assert fresh.current_version() == 2


# ---------------------------------------------------------------------------
# vacuum race: the listed max vanishes before the read


class _VacuumRacingFS(RenameUnsafeFS):
    """Simulates the ADVICE r12 interleaving: between this reader's
    generation listing and its read of the listed max, other writers
    commit newer generations and vacuum sweeps the listed one."""

    def __init__(self):
        super().__init__()
        self.raced = False

    def read_text(self, p: str) -> str:
        if not self.raced and os.path.basename(p) == "_VERSION-v2":
            self.raced = True
            root = os.path.dirname(p)
            with open(p) as fh:
                racer = {**json.load(fh), "v": 3}  # same chain, next number
            os.remove(p)
            with open(os.path.join(root, "_VERSION-v3"), "w") as fh:
                fh.write(json.dumps(racer))
            raise FileNotFoundError(p)
        return super().read_text(p)


def test_vacuum_race_relists_and_retries(spark, tmp_path):
    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    _append(spark, s, "b")
    racer = _unsafe_store(spark, tmp_path / "t")
    racer._fs = _VacuumRacingFS()
    # first read of the listed max (v2) hits the sweep; the retry must
    # resolve the newer generation the racing writer left behind
    assert racer.current_version() == 3
    assert racer._fs.raced


# ---------------------------------------------------------------------------
# unified bare-path dispatch (VERDICT r12 ask #6 / ADVICE r12 medium)


def test_bare_path_dispatch_follows_default_fs(spark, tmp_path):
    """A bare path resolves the way Spark's data plane does: against
    ``fs.defaultFS``. With a non-local defaultFS (here a viewfs mount)
    the metadata must land on that filesystem, not the driver's local
    disk — the store and the IVF index share this one dispatch."""
    from smoltable_spark.sources.store_fs import store_fs_for

    hc = spark._jsc.hadoopConfiguration()
    old = hc.get("fs.defaultFS", "file:///")
    hc.set(
        "fs.viewfs.mounttable.dfx.link./s", "file://" + str(tmp_path)
    )
    hc.set("fs.defaultFS", "viewfs://dfx/")
    try:
        sfs = store_fs_for(spark, "/s/store")
        assert isinstance(sfs, HadoopStoreFS)
        # a file created through the adapter is physically under the
        # mount target
        sfs.write_text("/s/probe.txt", "x")
        assert sfs.exists("/s/probe.txt")
        assert (tmp_path / "probe.txt").exists()
        assert sfs.scheme == "viewfs"
    finally:
        hc.set("fs.defaultFS", old)
    # local defaultFS: the zero-JVM fast path
    assert isinstance(store_fs_for(spark, str(tmp_path)), LocalStoreFS)


# ---------------------------------------------------------------------------
# cpdel: a REAL JVM filesystem whose rename is copy+delete (VERDICT r12
# ask #3 — the rename-unsafe paths had only ever run against Python
# doubles and forced capability profiles)


def _cpdel(spark, tmp_path):
    hc = spark._jsc.hadoopConfiguration()
    if not hc.get("fs.cpdel.impl", ""):
        pytest.skip("cpdel shim unavailable (no javac/hadoop jar)")
    return "cpdel:" + str(tmp_path)


def test_cpdel_probe_and_generation_commits(spark, tmp_path):
    """The capability probe classifies cpdel as rename-unsafe (unknown
    scheme => conservative False), so a CellStore hosted there commits
    through the rename-free generation protocol — exercised END-TO-END
    against a JVM filesystem whose rename really is copy+delete."""
    from smoltable_spark.sources.store import CellStore

    base = _cpdel(spark, tmp_path)
    store = CellStore(spark, base + "/t")
    assert isinstance(store._fs, HadoopStoreFS)
    assert store._fs.scheme == "cpdel"
    assert store._fs.atomic_rename is False
    store.save_families([ColumnFamilyDef("f")])
    _append(spark, store, "a")
    _append(spark, store, "b")
    store.compact()
    names = store._fs.listdir(store.path)
    assert sorted(n for n in names if n.startswith("_VERSION-v")) == [
        "_VERSION-v1", "_VERSION-v2", "_VERSION-v3",
    ]
    assert "_VERSION" not in names
    assert store.current_version() == 3
    assert store.read().count() == 2
    assert store.read(version=1).count() == 2  # time travel
    store.vacuum(keep_last=1)
    fresh = CellStore(spark, base + "/t")
    assert fresh.current_version() == 3
    assert fresh.read().count() == 2


def test_cpdel_generation_cas_conflict(spark, tmp_path):
    from smoltable_spark.sources.store import CellStore

    base = _cpdel(spark, tmp_path)
    a = CellStore(spark, base + "/t")
    a.save_families([ColumnFamilyDef("f")])
    _append(spark, a, "a")
    b = CellStore(spark, base + "/t")
    n = a.current_version() + 1
    a._commit_version(n)
    with pytest.raises(ConcurrentCommitError, match=f"v{n}"):
        b._commit_version(n)


def test_cpdel_ivf_generation_fold_for_real(spark, tmp_path):
    """The IVF generation fold over the REAL copy+delete filesystem:
    probe says rename-unsafe, the fold publishes via the _LISTGEN
    pointer, serving masks exactly the deleted vectors — no monkeypatch
    anywhere."""
    import pyspark.sql.functions as F

    from smoltable_spark.functions import ann_index
    from smoltable_spark.functions.similarity import (
        build_ivf_index,
        ivf_list_generations,
        ivf_tombstones,
        query_ivf_index,
    )
    from smoltable_spark.sources.store_fs import store_fs_for
    from smoltable_spark.sources.relational import load_table

    base = _cpdel(spark, tmp_path)
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = base + "/ivf"
    build_ivf_index(emb, path, n_centroids=8)
    fs = store_fs_for(spark, path)
    assert fs.scheme == "cpdel" and fs.atomic_rename is False
    ann_index.delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 9).select("vec_id")
    )
    stats = ann_index.compact_ivf_index(spark, path)
    assert stats["tombstones"] == 1 and stats["lists_rewritten"] == 1
    m, gmap = ivf_list_generations(spark, path)
    assert m == 1 and gmap
    assert ivf_tombstones(spark, path) is None
    res = query_ivf_index(spark, path, emb.limit(3), k=5, nprobe=8)
    assert res.filter(F.col("neighbor_id") == 9).count() == 0
    assert res.count() > 0
    vstats = ann_index.vacuum_ivf_index(spark, path, keep_pointers=1)
    assert vstats["plain_dirs"] >= 1
    res2 = query_ivf_index(spark, path, emb.limit(3), k=5, nprobe=8)
    assert sorted(map(tuple, res2.collect())) == sorted(map(tuple, res.collect()))


# ---------------------------------------------------------------------------
# embedding-quality eval: recall@k curves (VERDICT r12 ask #8)


def test_ivf_recall_curve_semantics(spark):
    import pyspark.sql.functions as F

    from smoltable_spark.functions.similarity import ivf_recall_curve

    emb = _emb(spark)
    curve = ivf_recall_curve(
        emb, emb.filter(F.col("vec_id") < 6),
        ks=(1, 5), nprobes=(1, 2, 8), n_centroids=8,
    ).collect()
    cells = {(r["nprobe"], r["k"]): r for r in curve}
    assert len(cells) == 6  # full grid, even where hits are sparse
    for k in (1, 5):
        # recall is monotone non-decreasing in the probe budget
        seq = [cells[(p, k)]["mean_recall"] for p in (1, 2, 8)]
        assert seq == sorted(seq)
        # probing EVERY list serves the exact brute-force top-k
        assert cells[(8, k)]["mean_recall"] == 1.0
        assert cells[(8, k)]["hits"] == 6 * k
    assert all(r["n_queries"] == 6 for r in curve)


def test_ivf_pointer_read_survives_vacuum_race(tmp_path):
    """A pointer file swept between a reader's listing and its read
    (vacuum_ivf_index racing an unparsable-newest fallback) skips to
    the next candidate instead of crashing — mirroring
    CellStore.current_version's ADVICE-r12 fix."""
    import json

    from smoltable_spark.functions.similarity import _ivf_pointer
    from smoltable_spark.sources.store_fs import LocalStoreFS as LocalFS

    base = str(tmp_path)
    with open(f"{base}/_LISTGEN-v1", "w") as fh:
        fh.write(json.dumps({"m": 1, "lists": {"3": 1}}))
    with open(f"{base}/_LISTGEN-v2", "w") as fh:
        fh.write('{"m": 2, "li')  # torn newest: must fall back to v1

    class RacingFS(LocalFS):
        def __init__(self):
            self.raced = False

        def read_text(self, p):
            if p.endswith("_LISTGEN-v1") and not self.raced:
                self.raced = True
                import os as _os

                _os.remove(p)  # vacuum sweeps it mid-read
                raise FileNotFoundError(p)
            return super().read_text(p)

    fs = RacingFS()
    m, gmap, _meta = _ivf_pointer(fs, base)
    assert fs.raced
    assert (m, gmap) == (0, {})  # nothing parsable left: clean empty
    # and without the race, the torn newest still falls back to v1
    with open(f"{base}/_LISTGEN-v1", "w") as fh:
        fh.write(json.dumps({"m": 1, "lists": {"3": 1}}))
    m2, gmap2, _ = _ivf_pointer(LocalFS(), base)
    assert (m2, gmap2) == (1, {3: 1})


def test_ivf_index_health_tracks_maintenance(spark, tmp_path):
    """The health report follows the index through its lifecycle: fresh
    build = healthy; a tombstone backlog flips the recommendation to
    compact; the generation fold clears it and the report reads the
    folded (generation-aware) list sizes."""
    import pyspark.sql.functions as F

    from smoltable_spark.functions import ann_index
    from smoltable_spark.functions.ann_eval import ivf_index_health
    from smoltable_spark.functions.similarity import build_ivf_index

    emb = _emb(spark)
    path = str(tmp_path / "health")
    build_ivf_index(emb, path, n_centroids=8)
    h0 = ivf_index_health(spark, path)
    assert h0["recommendation"] == "healthy"
    assert h0["rows_total"] == 500 and h0["tombstones"] == 0
    assert h0["generation"] == 0
    ann_index.delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") % 10 == 1).select("vec_id")
    )
    h1 = ivf_index_health(spark, path)
    assert h1["recommendation"] == "compact"
    assert h1["tombstones"] == 50 and h1["tombstone_permille"] == 100
    assert h1["rows_total"] == 500  # backlog, not yet folded
    ann_index.compact_ivf_index(spark, path)  # generation fold
    h2 = ivf_index_health(spark, path)
    assert h2["tombstones"] == 0 and h2["generation"] == 1
    assert h2["rows_total"] == 450  # generation-aware list sizes
    assert h2["recommendation"] in ("healthy", "retrain")


def test_ivf_probe_advisor_semantics(spark):
    import pyspark.sql.functions as F

    from smoltable_spark.functions.ann_eval import ivf_probe_advisor

    emb = _emb(spark)
    qs = emb.filter(F.col("vec_id") < 6)
    rows = {
        r["k"]: r
        for r in ivf_probe_advisor(
            emb, qs, target_recall=0.9, ks=(1, 10), nprobes=(1, 2, 8),
            n_centroids=8,
        ).collect()
    }
    assert set(rows) == {1, 10}
    for k, r in rows.items():
        # the chosen budget meets the target, or is the swept max
        assert r["achieved_recall"] >= 0.9 or r["chosen_nprobe"] == 8
        assert r["scan_fraction"] == r["chosen_nprobe"] / 8
    # an unreachable target falls back to the largest budget, honestly
    hard = {
        r["k"]: r
        for r in ivf_probe_advisor(
            emb, qs, target_recall=1.1, ks=(10,), nprobes=(1, 2),
            n_centroids=8,
        ).collect()
    }
    assert hard[10]["chosen_nprobe"] == 2
    assert hard[10]["achieved_recall"] <= 1.0


def test_scan_advisor_costs_match_actual_reads(spark, tmp_path):
    """The advisor's footer-derived costs equal what the advised plan
    actually reads, and the full-space shape flips the decision to the
    flat scan."""
    import pyspark.sql.functions as F

    from smoltable_spark.api import ColumnFamilyDef as CFD
    from smoltable_spark.plans.advisor import advise_box_scan, zorder_box_costs
    from smoltable_spark.sources.store_layout import ZorderCellStore

    store = ZorderCellStore(
        spark,
        str(tmp_path / "z"),
        a_bucket=lambda: F.col("ts") % 4,
        b_bucket=lambda: (F.col("ts") / F.lit(4)).cast("long") % 4,
        bits=2,
    )
    store.save_families([CFD("f")])
    rows = [
        (f"k{i:03d}", "f", "", i, "string", f"v{i}") for i in range(64)
    ]
    store.write(make_cells(spark, rows))
    costs = zorder_box_costs(store, [1, 2], [0, 1])
    assert costs["choice"] == "zorder_box"
    df, got = advise_box_scan(store, [1, 2], [0, 1])
    assert got == costs
    assert df.count() == costs["rows_box"]
    # exact bucket math: 2x2 of a 4x4 grid over uniform ts 0..63
    assert costs["rows_box"] == 16 and costs["rows_total"] == 64
    assert costs["n_parts_read"] == 4 and costs["n_parts_total"] == 16
    # full space: pruning reads everything -> advisor says scan flat
    full = zorder_box_costs(store, [0, 1, 2, 3], [0, 1, 2, 3])
    assert full["choice"] == "flat_scan"
    assert full["read_fraction"] == 1.0
    df2, _ = advise_box_scan(store, [0, 1, 2, 3], [0, 1, 2, 3])
    assert df2.count() == 64


# ---------------------------------------------------------------------------
# IVF rename-free generation protocol (VERDICT r12 ask #2)


def _emb(spark):
    from smoltable_spark.sources.relational import load_table

    return load_table(spark, "/root/testdata/sf0.001", "embeddings")


def _topk(spark, path, queries, k=5):
    from smoltable_spark.functions.similarity import query_ivf_index

    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in query_ivf_index(
            spark, path, queries, k=k, nprobe=8
        ).collect()
    )


def test_generation_fold_matches_legacy_fold(spark, tmp_path):
    """Differential: the same build→delete→fold→upsert sequence on the
    rename-atomic ``file`` filesystem and on ``cpdel`` (whose rename is
    copy+delete) runs the same generation fold and serves IDENTICAL
    top-k results from the same generation map."""
    import pyspark.sql.functions as F

    from smoltable_spark.functions import ann_index
    from smoltable_spark.functions.similarity import (
        build_ivf_index,
        ivf_list_generations,
    )

    emb = _emb(spark)
    paths = ["file:" + str(tmp_path / "file"), _cpdel(spark, tmp_path) + "/cpdel"]
    victims = emb.filter(F.col("vec_id").isin([3, 7, 11])).select("vec_id")
    batch = emb.filter(F.col("vec_id").isin([7, 200]))
    for path in paths:
        build_ivf_index(emb, path, n_centroids=8)
        ann_index.delete_from_ivf_index(spark, path, victims)
        ann_index.compact_ivf_index(spark, path)
        ann_index.delete_from_ivf_index(
            spark, path, victims.filter(F.col("vec_id") == 7)
        )
        # upsert: id 7 carries an outstanding tombstone
        ann_index.append_ivf_index(spark, path, batch)
    qs = emb.limit(4)
    assert _topk(spark, paths[0], qs) == _topk(spark, paths[1], qs)
    gens = [ivf_list_generations(spark, p) for p in paths]
    assert gens[0] == gens[1] and gens[0][0] >= 1


def test_generation_append_lands_in_live_generation(spark, tmp_path):
    """After a fold maps a list to .gen/g=1, appended vectors assigned to
    that list must land (and serve) from the generation dir, not the
    stale pointer-shielded plain dir."""
    import os

    import pyspark.sql.functions as F

    from smoltable_spark.functions import ann_index
    from smoltable_spark.functions.similarity import (
        build_ivf_index,
        ivf_list_generations,
        read_ivf_lists,
    )

    emb = _emb(spark)
    path = str(tmp_path / "gen2")
    build_ivf_index(emb.filter(F.col("vec_id") < 200), path, n_centroids=8)
    ann_index.delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 5).select("vec_id")
    )
    ann_index.compact_ivf_index(spark, path)
    m, gmap = ivf_list_generations(spark, path)
    assert m == 1 and gmap
    before = read_ivf_lists(spark, path).count()
    ann_index.append_ivf_index(
        spark, path, emb.filter(F.col("vec_id").between(200, 249))
    )
    after = read_ivf_lists(spark, path)
    assert after.count() == before + 50
    # every appended id serves; none fell into a shielded stale dir
    got = {r["vec_id"] for r in after.select("vec_id").collect()}
    assert set(range(200, 250)) <= got
    assert 5 not in got
    # stale plain dirs of mapped lists still exist (vacuum's job), yet
    # are never read
    stale = [
        k for k in gmap
        if gmap[k] >= 1 and os.path.isdir(os.path.join(path, f"list_id={k}"))
    ]
    assert stale, "fold keeps pre-fold dirs for in-flight readers"


def test_retired_list_revival_and_stacked_folds(spark, tmp_path):
    """A list whose every row is tombstoned retires (g=0); appending a
    vector assigned there revives it under a fresh generation via a
    pointer CAS. A second fold stacks generation 2 over generation 1."""
    import pyspark.sql.functions as F

    from smoltable_spark.functions import ann_index
    from smoltable_spark.functions.similarity import (
        build_ivf_index,
        ivf_list_generations,
        read_ivf_lists,
    )

    emb = _emb(spark)
    path = str(tmp_path / "gen3")
    small = emb.filter(F.col("vec_id") < 60)
    build_ivf_index(small, path, n_centroids=4)
    # find one full list and tombstone ALL of it
    lists = read_ivf_lists(spark, path)
    some_list = lists.groupBy("list_id").count().orderBy("count").first()
    victims = lists.filter(F.col("list_id") == some_list["list_id"]).select(
        "vec_id"
    )
    victim_ids = {r["vec_id"] for r in victims.collect()}
    ann_index.delete_from_ivf_index(spark, path, victims)
    ann_index.compact_ivf_index(spark, path)
    m, gmap = ivf_list_generations(spark, path)
    assert gmap[some_list["list_id"]] == 0  # retired
    # revival: append one of the deleted ids back (plus a fresh one)
    revive_batch = emb.filter(
        F.col("vec_id").isin([min(victim_ids), 499])
    )
    ann_index.append_ivf_index(spark, path, revive_batch)
    m2, gmap2 = ivf_list_generations(spark, path)
    served = {r["vec_id"] for r in read_ivf_lists(spark, path).select("vec_id").collect()}
    assert min(victim_ids) in served and 499 in served
    assert (set(victim_ids) - {min(victim_ids)}).isdisjoint(served)
    # second fold: delete a surviving vector, fold again -> generation 2
    ann_index.delete_from_ivf_index(
        spark, path, small.filter(F.col("vec_id") == 1).select("vec_id")
    )
    ann_index.compact_ivf_index(spark, path)
    m3, gmap3 = ivf_list_generations(spark, path)
    assert m3 > m2
    served3 = {r["vec_id"] for r in read_ivf_lists(spark, path).select("vec_id").collect()}
    assert 1 not in served3
    from smoltable_spark.functions.similarity import ivf_tombstones

    assert ivf_tombstones(spark, path) is None


def test_vacuum_ivf_index_reclaims_superseded_state(spark, tmp_path):
    import os

    import pyspark.sql.functions as F

    from smoltable_spark.functions import ann_index
    from smoltable_spark.functions.similarity import build_ivf_index, read_ivf_lists

    emb = _emb(spark)
    path = str(tmp_path / "gen4")
    build_ivf_index(emb.filter(F.col("vec_id") < 300), path, n_centroids=8)
    for vid in (2, 9):
        ann_index.delete_from_ivf_index(
            spark, path, emb.filter(F.col("vec_id") == vid).select("vec_id")
        )
        ann_index.compact_ivf_index(spark, path)
    before = read_ivf_lists(spark, path)
    rows_before = sorted(r["vec_id"] for r in before.select("vec_id").collect())
    stats = ann_index.vacuum_ivf_index(spark, path, keep_pointers=1)
    assert stats["pointers"] >= 1  # the older pointer generation swept
    assert stats["plain_dirs"] >= 1  # pre-fold stale dirs reclaimed
    after = read_ivf_lists(spark, path)
    assert sorted(r["vec_id"] for r in after.select("vec_id").collect()) == rows_before
    # vacuum on a never-folded index is a no-op
    fresh = str(tmp_path / "plainidx")
    build_ivf_index(emb.filter(F.col("vec_id") < 50), fresh, n_centroids=4)
    assert ann_index.vacuum_ivf_index(spark, fresh) == {
        "pointers": 0, "generations": 0, "plain_dirs": 0, "tomb_legs": 0,
    }
    assert os.path.isdir(os.path.join(fresh, "_centroids"))


# --- r13 optimization: scale-adaptive base/minor partition sizing ---------


def test_partitions_for_bytes_boundaries():
    """Pure sizing rule (guide §2/§6): derived from bytes, not a constant
    tuned to the local core count."""
    from smoltable_spark.sources.store import CellStore

    T = CellStore._TARGET_BASE_PARTITION_BYTES  # 64 MiB
    M = CellStore._MIN_BASE_FILE_BYTES  # 8 MiB
    # unknown stats (<=0 or the Catalyst 8-EiB sentinel): old floor
    assert CellStore._partitions_for_bytes(0, 32) == 32
    assert CellStore._partitions_for_bytes(-1, 4) == 8
    assert CellStore._partitions_for_bytes(1 << 50, 32) == 32
    # tiny snapshot: ONE range partition (one file per lg), never 32
    assert CellStore._partitions_for_bytes(1024, 32) == 1
    assert CellStore._partitions_for_bytes(M, 32) == 1
    # below the levelled target but multi-file: spread over idle cores,
    # bounded so no file drops under 8 MiB
    assert CellStore._partitions_for_bytes(3 * M, 32) == 3
    assert CellStore._partitions_for_bytes(100 * M, 32) == 32  # capped at cores
    # at/above the levelled target with few cores: bytes govern — a
    # 100 TB table is never squeezed into the cluster's core count
    assert CellStore._partitions_for_bytes(10 * T, 4) == 10
    hundred_tb = 100 * (1 << 40)
    assert CellStore._partitions_for_bytes(hundred_tb, 512) == -(-hundred_tb // T)


def test_tiny_base_commit_is_one_file_per_lg(spark, tmp_path):
    """A megabytes-sized base snapshot commits as one range-disjoint
    file per locality group — not defaultParallelism near-empty files
    (the r12 behavior this round replaced)."""
    from smoltable_spark.api import ColumnFamilyDef
    from smoltable_spark.sources.store import CellStore

    from tests.conftest import make_cells

    store = CellStore(spark, str(tmp_path / "adaptive"))
    store.save_families(
        [ColumnFamilyDef("a", lg="la"), ColumnFamilyDef("b", lg="lb")]
    )
    rows = [
        (f"r{i:04d}", fam, "q", 1, "string", f"v{i}")
        for i in range(200)
        for fam in ("a", "b")
    ]
    # adaptivity needs a size estimate; RDD-backed frames (createDataFrame
    # from Python rows) carry the Catalyst 8-EiB unknown sentinel and take
    # the legacy parallelism floor — registry writes all derive from
    # parquet scans, so round-trip through parquet like they do
    src = str(tmp_path / "src")
    make_cells(spark, rows).write.parquet(src)
    store.write(spark.read.parquet(src))
    # one parquet file per locality group (2 lgs here)
    assert store.file_count() == 2
    # reads stay correct over the compacted layout
    assert store.read().count() == 400
