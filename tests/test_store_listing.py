"""One listing resolves a store snapshot.

Every CellStore operation lists the store root once (inside the pointer
resolve) and answers leg-dir names, the chain's base and the missing-leg
checks from that listing. These tests count the metadata adapter's calls
on a fresh handle — the cold path a new reader or a URI client pays —
over each of the three test filesystems.
"""

from __future__ import annotations

from collections import Counter

from smoltable_spark.api import ColumnFamilyDef
from smoltable_spark.sources.store import CellStore

from tests.conftest import make_cells


class _CountingFS:
    """Proxy over a metadata adapter that counts each method call."""

    def __init__(self, inner):
        self._inner = inner
        self.calls: Counter = Counter()

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def counted(*a, **k):
            self.calls[name] += 1
            return attr(*a, **k)

        return counted


def _cells(spark, items):
    return make_cells(
        spark, [(rk, "f", "", ts, "string", v) for rk, ts, v in items]
    )


def _rows(df):
    return sorted((r["row_key"], r["ts"], r["v_str"]) for r in df.collect())


def _chain(spark, path):
    """base v1, deltas v2-v3 folded by minor v4, deltas v5-v6: the
    current chain is [1, 4, 5, 6]."""
    s = CellStore(spark, path)
    s.save_families([ColumnFamilyDef("f")])
    s.write(_cells(spark, [("a", 1, "a1"), ("b", 1, "b1")]))
    s.append(_cells(spark, [("b", 2, "b2")]))
    s.append(_cells(spark, [("c", 1, "c1")]))
    assert s.minor_compact() == 4
    s.append(_cells(spark, [("a", 2, "a2")]))
    s.append(_cells(spark, [("d", 1, "d1")]))
    assert s._legs_of(s.current_version()) == [1, 4, 5, 6]
    return s


def _fresh(spark, path):
    r = CellStore(spark, path)
    r._fs = _CountingFS(r._fs)
    return r


def test_fresh_read_is_one_listing_and_one_pointer_read(spark, tmp_path, mkuri):
    path = mkuri(tmp_path / "chain")
    want = _rows(_chain(spark, path).read())
    r = _fresh(spark, path)
    df = r.read()
    # the pointer's chain manifest answers every kind: no marker reads
    assert dict(r._fs.calls) == {"listdir": 1, "read_text": 1}
    assert _rows(df) == want


def test_time_travel_read_lists_once(spark, tmp_path, mkuri):
    path = mkuri(tmp_path / "chain")
    want = _rows(_chain(spark, path).read(3))
    r = _fresh(spark, path)
    df = r.read(version=3)
    assert r._fs.calls["listdir"] == 1
    assert r._fs.calls["isdir"] == 0
    assert _rows(df) == want


def test_read_changes_probes_no_leg(spark, tmp_path, mkuri):
    path = mkuri(tmp_path / "chain")
    want = _rows(_chain(spark, path).read_changes(1))
    r = _fresh(spark, path)
    df = r.read_changes(1)
    assert r._fs.calls["listdir"] == 1
    assert r._fs.calls["isdir"] == 0
    assert _rows(df) == want
    # the fold of v2-v3 stands in for them; v5-v6 are read as committed
    assert [x[2] for x in want] == ["a2", "b2", "c1", "d1"]


def test_vacuum_reuses_the_listing(spark, tmp_path):
    s = _chain(spark, str(tmp_path / "chain"))
    s._fs = _CountingFS(s._fs)
    s.vacuum(keep_last=1)
    assert s._fs.calls["listdir"] == 1
    assert s._fs.calls["isdir"] == 0
    # v2-v3 are superseded by the minor fold; the handle's map forgot them
    assert sorted(s._leg_dirs) == [1, 4, 5, 6]
    assert _rows(s.read()) == _rows(_fresh(spark, s.path).read())
