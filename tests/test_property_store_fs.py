"""Differential property test for the store's FS-adapter port (round
11): the SAME random op sequence driven through a bare-path store
(LocalStoreFS), a ``file:``-URI store (HadoopStoreFS over the JVM
LocalFileSystem), and — round 12 — a RENAME-UNSAFE store (the
object-store capability profile: ``atomic_rename=False``, commits via
the rename-free ``_VERSION-v<n>`` generation protocol) must leave all
three observably identical — read snapshots, chain kinds, fold
markers, change feeds (including their documented raises), and footer
stats. After every op a FRESH handle over the unsafe store (a reader
that lists the directory right now, mid-sequence — the interleaving
VERDICT r11 ask #2 requires) must resolve the same version and read
the same cells.

Why a differential and not just the lifecycle test: the adapter has
independent implementations of every metadata primitive (text IO,
pointer publish, listing, reclaim, footer reads), and a divergence in
any ONE primitive shows up as a chain-resolution or retention
difference only under particular op interleavings — exactly what
random sequences search and example tests miss.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from smoltable_spark.api import ColumnFamilyDef
from smoltable_spark.sources.store import CellStore, ConcurrentCommitError

from tests.conftest import make_cells
from tests.test_round12 import RenameUnsafeFS, _unsafe_store

KEYS = ["a", "b", "c"]

# an op is ("append", [(row_key, ts), ...]) | ("minor",) | ("compact",)
# | ("vacuum", keep_last)
_batch = st.lists(
    st.tuples(st.sampled_from(KEYS), st.integers(1, 2)),
    min_size=1,
    max_size=3,
)
_op = st.one_of(
    st.tuples(st.just("append"), _batch),
    st.tuples(st.just("minor")),
    st.tuples(st.just("compact")),
    st.tuples(st.just("vacuum"), st.integers(1, 3)),
)
_ops = st.lists(_op, min_size=1, max_size=5)


def _observe(store) -> dict:
    """Everything a reader can see: snapshot cells, chain shape, fold
    markers, per-version change feeds (value or the documented raise),
    and footer stats."""
    cur = store.current_version()
    snap = store.read_or_none()
    cells = (
        sorted((r["row_key"], r["ts"], r["v_str"]) for r in snap.collect())
        if snap is not None
        else None
    )
    changes = {}
    for v in range(0, cur):
        try:
            changes[v] = store.read_changes(v).count()
        except ValueError as e:
            # the documented raises (base rewrite in range / vacuumed
            # straddle) must fire identically on both stores
            changes[v] = "raise:" + ("rewrite" if "rewrit" in str(e) else "vacuum")
        except FileNotFoundError:
            changes[v] = "raise:missing"
    return {
        "version": cur,
        "kinds": [store._kind(v) for v in store._legs_of(cur)] if cur else [],
        "legs": store._legs_of(cur) if cur else [],
        "folds": [store._folds_of(v) for v in store._legs_of(cur)] if cur else [],
        "cells": cells,
        "changes": changes,
        "approx_cells": store.approximate_cell_count(),
        "file_count": store.file_count(),
    }


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops)
def test_local_and_uri_stores_stay_identical(spark, tmp_path_factory, ops):
    root = tmp_path_factory.mktemp("prop_storefs")
    stores = [
        CellStore(spark, str(root / "local")),
        CellStore(spark, "file:" + str(root / "uri")),
        _unsafe_store(spark, root / "unsafe"),
    ]
    seq = 0
    for s in stores:
        s.save_families([ColumnFamilyDef("f")])
    for op in ops:
        if op[0] == "append":
            seq += 1
            rows = [
                (rk, "f", "", ts, "string", f"v{seq}.{i}")
                for i, (rk, ts) in enumerate(op[1])
            ]
            for s in stores:
                s.append(make_cells(spark, rows))
        elif op[0] == "minor":
            for s in stores:
                s.minor_compact()
        elif op[0] == "compact":
            for s in stores:
                s.compact()
        else:
            for s in stores:
                s.vacuum(keep_last=op[1])
        a, b, c = (_observe(s) for s in stores)
        assert a == b, f"diverged after {op}: local={a} uri={b}"
        assert a == c, f"diverged after {op}: local={a} unsafe={c}"
        # reader race: a fresh handle listing the unsafe store RIGHT NOW
        # (between ops = inside the copy+delete window a rename-based
        # pointer would have) resolves the same state, and the torn
        # replace path was never taken
        racer = _unsafe_store(spark, root / "unsafe")
        assert _observe(racer) == c
        assert stores[2]._fs.replace_calls == 0
        assert isinstance(stores[2]._fs, RenameUnsafeFS)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(steps=st.lists(st.sampled_from([0, 1]), min_size=2, max_size=12))
def test_two_writer_generation_cas_one_winner(spark, tmp_path_factory, steps):
    """VERDICT r12 ask #1: two writers interleaving resolve→commit on a
    rename-unsafe store get AT MOST ONE winner per generation; the loser
    raises ConcurrentCommitError (never a silent lost update), and a
    fresh reader always resolves the max committed generation with no
    torn read. Each scheduled step advances one writer by one phase:
    phase 1 resolves ``n = current_version() + 1``, phase 2 CAS-commits
    that n — so schedules where both writers resolve before either
    commits are exactly the lost-update interleaving the r12 protocol
    left open."""
    root = tmp_path_factory.mktemp("prop_cas")
    path = root / "t"
    writers = [_unsafe_store(spark, path), _unsafe_store(spark, path)]
    pending: list[int | None] = [None, None]
    wins: dict[int, list[int]] = {}
    conflicts: list[tuple[int, int]] = []
    # drain suffix: every writer finishes any in-flight commit
    for w in list(steps) + [0, 0, 1, 1]:
        s = writers[w]
        if pending[w] is None:
            pending[w] = s.current_version() + 1
        else:
            n, pending[w] = pending[w], None
            try:
                s._commit_version(n)
                wins.setdefault(n, []).append(w)
            except ConcurrentCommitError:
                conflicts.append((w, n))
        # no torn read at ANY intermediate point: a fresh handle parses
        # a committed generation (or resolves 0 before the first commit)
        fresh = _unsafe_store(spark, path)
        assert fresh.current_version() == (max(wins) if wins else 0)
    assert all(len(v) == 1 for v in wins.values()), wins
    # every conflict names a generation some OTHER writer really won
    for w, n in conflicts:
        assert wins.get(n) and wins[n][0] != w


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(steps=st.lists(st.sampled_from([0, 1]), min_size=2, max_size=10))
def test_two_writer_ivf_pointer_cas_one_winner(tmp_path_factory, steps):
    """The IVF maintenance pointer (_LISTGEN-v<m>) uses the same
    create-if-absent CAS as the store's _VERSION generations: two
    maintenance writers interleaving resolve→commit get at most one
    winner per pointer number, losers raise ConcurrentCommitError,
    and a fresh resolution always reads the max committed pointer
    parsably. Pure pointer-layer test (no Spark session needed):
    the local adapter over a scratch dir."""
    from smoltable_spark.functions.ann_index import _commit_listgen
    from smoltable_spark.functions.similarity import _ivf_pointer
    from smoltable_spark.sources.store_fs import LocalStoreFS

    base = str(tmp_path_factory.mktemp("prop_ivf_cas"))
    fs = LocalStoreFS()
    pending: list[int | None] = [None, None]
    wins: dict[int, int] = {}
    conflicts: list[tuple[int, int]] = []
    for w in list(steps) + [0, 0, 1, 1]:
        if pending[w] is None:
            m, _gmap, _meta = _ivf_pointer(fs, base)
            pending[w] = m + 1
        else:
            m_new, pending[w] = pending[w], None
            try:
                _commit_listgen(
                    fs, base, m_new, {1: m_new}, [], []
                )
                assert m_new not in wins
                wins[m_new] = w
            except ConcurrentCommitError:
                conflicts.append((w, m_new))
        m_now, gmap_now, _ = _ivf_pointer(fs, base)
        assert m_now == (max(wins) if wins else 0)
        if wins:
            assert gmap_now == {1: m_now}  # parsable, the winner's content
    for w, m_new in conflicts:
        assert m_new in wins and wins[m_new] != w
