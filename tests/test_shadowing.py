"""One shadowing rule for leg chains: of the copies of a cell key the
newest leg's wins, resolved by one window (``store._newest_wins``) with
no join and no broadcast.

- A differential property test drives random chains of base, delta and
  minor legs against a dict model: every read path the chain serves
  (``read``, time travel, ``read_changes``, ``scan_count``, ``get_row``)
  and a minor fold followed by a major fold.
- Plan tests pin what the step costs on a 4-leg chain: no broadcast and
  no join on ``read()``; point reads and counts plan as many exchanges
  as on a one-leg store; a major fold and a GC rewrite shuffle the
  snapshot once per exchange they already make; a family-filtered read
  still prunes locality-group partitions of every leg.
- A chain reads through one relation per leg layout, ordered by its
  ``v`` partition column: one FileScan for base and delta legs whatever
  the chain length (at most one more for minor legs), the same plan for
  every version, so a commit between two rounds of reads compiles no new
  class; ``get_row`` and a small ``multi_get`` of a chain of few files
  plan no exchange, and of a chain of many files one, by row_key.
"""

from __future__ import annotations

import collections
import re

import pytest
from hypothesis import HealthCheck, assume, given, settings, strategies as st

from smoltable_spark import (
    ColumnFamilyDef,
    ColumnFilter,
    CountInput,
    QueryRowInput,
    ScanInput,
    Smoltable,
    plans,
)
from smoltable_spark.jobs.workers import gc_worker
from smoltable_spark.sources.store import CellStore

from tests.conftest import make_cells

FAMILIES = [ColumnFamilyDef("o", version_limit=2), ColumnFamilyDef("m", lg="lm")]
#: (row_key, family, qualifier, ts): two rows, two locality groups
COORDS = [
    (rk, fam, qual, ts)
    for rk in ("r1", "r2")
    for fam, qual in (("o", "x"), ("m", "y"))
    for ts in (1, 2)
]


def _cells(spark, batch: dict):
    return make_cells(
        spark, [(*coord, "string", val) for coord, val in sorted(batch.items())]
    )


def _cell_map(df) -> dict:
    return {
        (r["row_key"], r["family"], r["qualifier"], r["ts"]): r["v_str"]
        for r in df.collect()
    }


def _row_map(rows) -> dict:
    """Nested get_row output flattened to the model's shape."""
    out = {}
    for r in rows:
        for fam, qmap in r["columns"].items():
            for qual, cells in qmap.items():
                for c in cells:
                    out[(r["row_key"], fam, qual, c["time"])] = c["v_str"]
    return out


# ---------------------------------------------------------------------------
# differential property test

_coords = st.lists(st.sampled_from(COORDS), min_size=1, max_size=4, unique=True)
_leg = st.one_of(
    st.tuples(st.sampled_from(["delta", "delta", "base"]), _coords),
    st.tuples(st.just("minor")),
)
_chain = st.tuples(
    st.sampled_from(["base", "delta"]), _coords, st.lists(_leg, min_size=1, max_size=4)
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(chain=_chain)
def test_chain_reads_match_newest_leg_wins_model(spark, tmp_path_factory, chain):
    first_kind, first_coords, rest = chain
    data_legs = [(first_kind, first_coords)] + [op for op in rest if op[0] != "minor"]
    per_coord = collections.Counter(c for _k, coords in data_legs for c in coords)
    assume(max(per_coord.values()) <= 3)  # one coordinate in up to 3 legs

    t = Smoltable.open(spark, str(tmp_path_factory.mktemp("shadow") / "t"))
    t.create_column_families(FAMILIES)
    store = t.store
    models: dict[int, dict] = {0: {}}   # version -> snapshot the model holds
    deltas: dict[int, dict] = {}        # version -> that delta batch
    bases: list[int] = []
    cur = 0
    for i, op in enumerate([(first_kind, first_coords)] + rest):
        if op[0] == "minor":
            v = store.minor_compact()
            if v != cur:
                models[v] = models[cur]
                cur = v
            continue
        kind, coords = op
        batch = {c: f"leg{i}.{j}" for j, c in enumerate(coords)}
        if kind == "base":
            v = store.write(_cells(spark, batch))
            models[v] = dict(batch)
            bases.append(v)
        else:
            v = store.append(_cells(spark, batch))
            models[v] = {**models[cur], **batch}
            deltas[v] = batch
        cur = v

    assert _cell_map(store.read()) == models[cur]
    for v in range(1, cur + 1):
        assert _cell_map(store.read(version=v)) == models[v], f"version {v}"
    for since in range(cur):
        if any(b > since for b in bases):
            with pytest.raises(ValueError, match="base"):
                store.read_changes(since)
            continue
        want: dict = {}
        for v in sorted(deltas):
            if v > since:
                want.update(deltas[v])
        assert _cell_map(store.read_changes(since)) == want, f"since {since}"

    model = models[cur]
    got = t.scan_count(CountInput(prefix="r")).collect()[0]
    assert (got["row_count"], got["cell_count"]) == (
        len({c[0] for c in model}), len(model)
    )
    for rk in ("r1", "r2"):
        want_row = {c: val for c, val in model.items() if c[0] == rk}
        assert _row_map(t.get_row(QueryRowInput(rk)).collect()) == want_row

    store.minor_compact()
    assert _cell_map(store.read()) == model
    store.compact()
    assert _cell_map(store.read()) == model
    assert len(store._legs_of(store.current_version())) == 1


# ---------------------------------------------------------------------------
# plan tests

#: base, then three deltas that overwrite part of it and of each other
LEGS = [
    {c: f"base.{i}" for i, c in enumerate(COORDS)},
    {COORDS[0]: "d1.0", COORDS[2]: "d1.2", COORDS[5]: "d1.5"},
    {COORDS[0]: "d2.0", COORDS[6]: "d2.6"},
    {COORDS[0]: "d3.0", COORDS[2]: "d3.2", COORDS[7]: "d3.7"},
]


def _table(spark, path: str, legs: list[dict]) -> Smoltable:
    t = Smoltable.open(spark, path)
    t.create_column_families(FAMILIES)
    t.store.write(_cells(spark, legs[0]))
    for batch in legs[1:]:
        t.store.append(_cells(spark, batch))
    return t


@pytest.fixture(scope="module")
def chain4(spark, tmp_path_factory):
    t = _table(spark, str(tmp_path_factory.mktemp("chain4") / "t"), LEGS)
    assert len(t.store._legs_of(t.store.current_version())) == 4
    return t


@pytest.fixture(scope="module")
def flat1(spark, tmp_path_factory):
    merged: dict = {}
    for batch in LEGS:
        merged.update(batch)
    return _table(spark, str(tmp_path_factory.mktemp("flat1") / "t"), [merged])


def _exchanges(df) -> int:
    """Exchange nodes of the physical plan, broadcast ones included."""
    return len(re.findall(r"(?<!Reused)Exchange ", plans.physical_plan(df)))


def test_chain_read_has_no_broadcast_and_no_join(chain4):
    df = chain4.store.read()
    plan = plans.physical_plan(df)
    assert "BroadcastExchange" not in plan, plan
    assert "Join" not in plan, plan
    assert df.count() == len(COORDS)


_READS = {
    "get_row": lambda t: t.get_row(QueryRowInput("r1")),
    "multi_get": lambda t: t.multi_get([QueryRowInput("r1"), QueryRowInput("r2")]),
    "scan_count": lambda t: t.scan_count(CountInput(prefix="r")),
    "count": lambda t: t.count(),
    "scan": lambda t: t.scan(
        ScanInput(prefix="r", column_filter=ColumnFilter.key("o:x"), column_cell_limit=1)
    ),
}


@pytest.mark.parametrize("op", sorted(_READS))
def test_chain_reads_plan_the_one_leg_exchanges(chain4, flat1, op):
    """The step resolves inside the exchange the operator makes anyway:
    a 4-leg chain plans no more exchanges than the same cells in one
    leg (the scan's cell-limit window even reuses the read's row_key
    exchange, one fewer), and returns the same rows."""
    build = _READS[op]
    chained, flat = build(chain4), build(flat1)
    if op == "scan":
        assert _exchanges(chained) == _exchanges(flat) - 1, plans.physical_plan(chained)
    else:
        assert _exchanges(chained) == _exchanges(flat), plans.physical_plan(chained)
    assert sorted(map(repr, chained.collect())) == sorted(map(repr, flat.collect()))


def test_fold_and_gc_rewrites_shuffle_once_per_exchange(spark, tmp_path, monkeypatch):
    """A major fold shadows inside its range exchange (one shuffle of
    the snapshot); a GC rewrite reads through ``read()`` and its version
    window reuses the read's exchange (two shuffles: that one and the
    range exchange)."""
    written = []
    layout = CellStore._layout

    def spy(self, df, kind, num_range_partitions=None):
        out = layout(self, df, kind, num_range_partitions)
        written.append(out[0])
        return out

    monkeypatch.setattr(CellStore, "_layout", spy)
    t = _table(spark, str(tmp_path / "t"), LEGS)
    t.compact()
    assert plans.shuffle_count(written[-1]) == 1, plans.physical_plan(written[-1])
    for batch in LEGS[1:]:
        t.store.append(_cells(spark, batch))
    assert len(t.store._legs_of(t.store.current_version())) == 4
    gc_worker(t.store, now_nanos=10)
    assert plans.shuffle_count(written[-1]) <= 2, plans.physical_plan(written[-1])


def test_family_filtered_chain_read_prunes_every_leg(chain4):
    """The chain's legs share one relation, and its lg partition filter
    prunes every one of them: the pruned scans read all four leg dirs."""
    df = chain4.store.read_for_filter(ColumnFilter.key("m:y"))
    scans = [ln for ln in plans.physical_plan(df).splitlines() if "FileScan " in ln]
    pruned_legs = sum(
        int(re.search(r"InMemoryFileIndex\((\d+) paths\)", ln).group(1))
        for ln in scans
        if re.search(r"PartitionFilters: \[[^\]]*lg#\d+ = lm\)", ln)
    )
    assert pruned_legs == len(LEGS), plans.physical_plan(df)
    assert {r["family"] for r in df.collect()} == {"m"}


# ---------------------------------------------------------------------------
# one relation per leg layout, one stage per key-bounded read


def _plan_shape(df) -> str:
    """The physical plan without expression ids, plan ids and the file
    index's paths."""
    plan = plans.physical_plan(df)
    plan = re.sub(r"InMemoryFileIndex\(\d+ paths\)\[[^\]]*\]", "InMemoryFileIndex", plan)
    return re.sub(r"#\d+L?|plan_id=\d+", "", plan)


def test_chain_read_is_one_file_scan_whatever_its_length(spark, tmp_path):
    """Base and delta legs read as one relation: a 2-leg and a 4-leg
    chain plan one FileScan each, with the same plan apart from paths.
    Minor legs add at most one more relation."""
    t2 = _table(spark, str(tmp_path / "t2"), LEGS[:2])
    t4 = _table(spark, str(tmp_path / "t4"), LEGS)
    r2, r4 = t2.store.read(), t4.store.read()
    assert plans.file_scan_count(r2) == plans.file_scan_count(r4) == 1
    assert _plan_shape(r2) == _plan_shape(r4)
    # two stacked minors between the base and a trailing delta
    t = _table(spark, str(tmp_path / "tm"), LEGS[:3])
    t.store.minor_compact()
    for batch in LEGS[1:3]:
        t.store.append(_cells(spark, batch))
    t.store.minor_compact()
    t.store.append(_cells(spark, LEGS[3]))
    kinds = [t.store._kind(v) for v in t.store._legs_of(t.store.current_version())]
    assert kinds == ["base", "minor", "minor", "delta"]
    df = t.store.read()
    assert plans.file_scan_count(df) == 2, plans.physical_plan(df)
    assert _cell_map(df) == _cell_map(t4.store.read())


def _point_reads(t: Smoltable) -> dict:
    return {
        "get_row": t.get_row(QueryRowInput("r1")),
        "multi_get": t.multi_get([QueryRowInput(f"r{i}") for i in range(32)]),
    }


@pytest.mark.parametrize("op", ["get_row", "multi_get"])
def test_key_bounded_reads_plan_no_exchange(chain4, flat1, op):
    """``get_row`` and a 32-key ``multi_get`` run newest-wins, the
    cell-limit windows and row assembly in one partition: no exchange on
    a one-leg store or on a 4-leg chain, and the same rows from both."""
    chained, flat = _point_reads(chain4)[op], _point_reads(flat1)[op]
    assert _exchanges(chained) == 0, plans.physical_plan(chained)
    assert _exchanges(flat) == 0, plans.physical_plan(flat)
    assert _row_map(chained.collect()) == _row_map(flat.collect())


@pytest.mark.parametrize("op", ["get_row", "multi_get"])
def test_key_bounded_read_of_many_files_scans_in_parallel(spark, chain4, flat1, op):
    """A chain whose files Spark's split sizing would not open in one
    task (here every file open is priced above a whole split) is scanned
    in parallel and gathered behind one row_key exchange; the rows are
    still assembled and ordered in one partition, with no range
    exchange, and are the same."""
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(256 * 1024 * 1024))
    try:
        chained, flat = _point_reads(chain4)[op], _point_reads(flat1)[op]
        for df in (chained, flat):
            plan = plans.physical_plan(df)
            assert _exchanges(df) == 1, plan
            assert "Exchange hashpartitioning(row_key#" in plan, plan
        assert _row_map(chained.collect()) == _row_map(flat.collect())
    finally:
        spark.conf.set(key, old)


def test_new_leg_compiles_no_new_class(spark, tmp_path):
    """A read's plan does not change with the version or the chain
    length, so after one warm-up a commit and the same reads again hit
    Spark's codegen cache: zero new Janino compilations."""
    t = _table(spark, str(tmp_path / "t"), LEGS[:2])

    def reads():
        t.get_row(QueryRowInput("r1")).collect()
        t.scan_count(CountInput(prefix="r")).collect()

    def write(val: str):
        t.write([{"row_key": "r2", "cells": [
            {"column_key": "o:x", "value": {"string": val}, "timestamp": 1}]}])

    write("w1")
    reads()
    before = plans.codegen_compile_count(spark)
    write("w2")
    reads()
    assert plans.codegen_compile_count(spark) - before == 0
    assert _row_map(t.get_row(QueryRowInput("r2")).collect())[("r2", "o", "x", 1)] == "w2"
