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
    df = chain4.store.read_for_filter(ColumnFilter.key("m:y"))
    pruned = [f for f in plans.partition_filters(df) if re.search(r"lg#\d+ = lm\)", f)]
    assert len(pruned) == len(LEGS), plans.physical_plan(df)
    assert {r["family"] for r in df.collect()} == {"m"}
