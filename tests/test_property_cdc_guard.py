"""Differential property test for the CDC chain guard across rollup
incarnations.

The guard keeps no state of its own between calls: every call resolves
the store's pointer and walks the committed kinds in its chain manifest
from the persisted horizon. This suite drives random interleavings of
append / minor-compact / major-compact / vacuum against ONE long-lived
incarnation and asserts, after every op, that its ``guard_chain()``
decision (pass, or which documented ValueError) is IDENTICAL to a fresh
incarnation constructed over the same persisted rollup meta — i.e. a
long-lived rollup can never accept a chain a fresh one rejects, or vice
versa.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from smoltable_spark.api import ColumnFamilyDef
from smoltable_spark.sources.store import CellStore
from smoltable_spark.streaming.store_cdc import StoreChangeRollup

from tests.conftest import make_cells

# an op is ("append",) | ("minor",) | ("compact",) | ("vacuum", keep_last)
_op = st.one_of(
    st.tuples(st.just("append")),
    st.tuples(st.just("append")),  # 2x weight: chains need deltas to fold
    st.tuples(st.just("minor")),
    st.tuples(st.just("compact")),
    st.tuples(st.just("vacuum"), st.integers(1, 3)),
)
_ops = st.lists(_op, min_size=1, max_size=6)


def _guard_outcome(rollup) -> str:
    """pass | rewrite | vacuumed — the guard's full decision surface."""
    try:
        rollup.guard_chain()
        return "pass"
    except ValueError as e:
        msg = str(e)
        if "vacuum" in msg:
            return "vacuumed"
        return "rewrite"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops)
def test_guard_cache_equals_cold_walk(spark, tmp_path_factory, ops):
    root = tmp_path_factory.mktemp("prop_cdc")
    store = CellStore(spark, str(root / "store"))
    store.save_families([ColumnFamilyDef("f")])
    store.write(
        make_cells(spark, [("a", "f", "", 1, "string", "v0")])
    )
    roll_path = str(root / "roll")
    cached = StoreChangeRollup(
        spark, roll_path, keys=["family"], sums={"n": "1"}, store=store
    )  # horizon persists in the rollup meta at first construction

    seq = 0
    for op in ops:
        if op[0] == "append":
            seq += 1
            store.append(
                make_cells(
                    spark, [(f"k{seq}", "f", "", 1, "string", f"v{seq}")]
                )
            )
        elif op[0] == "minor":
            store.minor_compact()
        elif op[0] == "compact":
            store.compact()
        else:
            store.vacuum(keep_last=op[1])
        cold = StoreChangeRollup(
            spark, roll_path, keys=["family"], sums={"n": "1"}, store=store
        )  # same persisted horizon, a fresh incarnation
        got_cold = _guard_outcome(cold)
        got_cached = _guard_outcome(cached)
        assert got_cached == got_cold, (
            f"cache diverged after {op}: cached={got_cached} "
            f"cold={got_cold} (chain v{store.current_version()})"
        )
        # decisions must also be STABLE per state: a second call with
        # nothing new must agree with the first
        assert _guard_outcome(cached) == got_cached
