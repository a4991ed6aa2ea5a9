"""Differential property test for the IVF upsert family (VERDICT r10
ask #3): random interleavings of append / delete / re-append / compact
against a pure-Python dict model — the ANN analog of
test_property_tiered's LSM chain model.

Why: the r9 "resurrection" bug (delete(id) → re-append(id) → compact
permanently dropped the new vector) was found by review, not tests. A
differential model catches the whole interleaving class — double
delete, delete-of-never-added, re-append-then-delete-again,
compact-between-every-op — instead of the single pinned scenario.

Invariant after EVERY op: the index's live rows (its lists as
``read_ivf_lists`` resolves them, minus outstanding tombstones) ≡ the
model's vec_id → vector map, compared as exact (vec_id, q, nrm2)
triples computed through the same ``with_quantized_norm`` code path.
After a full compact and a vacuum, additionally: no tombstones remain
and the dropped rows are physically gone.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from smoltable_spark.functions import similarity
from smoltable_spark.functions.ann_index import (
    append_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
    vacuum_ivf_index,
)

from tests.test_ann_delete import _rows_on_disk

DIM = 4
#: ids 0..7 seed the default centroids (vec_id < n_centroids) and stay
#: in the base build; ops touch ids 0..11 so deletes hit base rows,
#: appends introduce new ids, and delete-of-never-added occurs.
BASE_IDS = list(range(8))
OP_IDS = list(range(12))

# an op is ("append", [ids]) | ("delete", [ids]) | ("compact",)
_ids = st.lists(st.sampled_from(OP_IDS), min_size=1, max_size=3, unique=True)
_op = st.one_of(
    st.tuples(st.just("append"), _ids),
    st.tuples(st.just("delete"), _ids),
    st.tuples(st.just("compact")),
)
_ops = st.lists(_op, min_size=1, max_size=5)


def _vec(vid: int, seq: int) -> list[float]:
    # distinct per (id, version): a re-appended id must be provably the
    # NEW vector, not a resurrected old one
    return [float(vid * 16 + seq), 1.0, float(vid % 3), float(seq % 2)]


def _df(spark, pairs):
    return spark.createDataFrame(
        [(int(v), _vec(v, s)) for v, s in pairs],
        "vec_id long, embedding array<float>",
    )


def _triples(df):
    if df is None:
        return set()
    return {
        (r["vec_id"], tuple(r["q"]), r["nrm2"])
        for r in df.select("vec_id", "q", "nrm2").collect()
    }


def _live_state(spark, path):
    idx = similarity.read_ivf_lists(spark, path)
    t = similarity.ivf_tombstones(spark, path)
    if idx is not None and t is not None:
        idx = idx.join(
            t.select("vec_id").distinct(), "vec_id", "left_anti"
        )
    return _triples(idx)


def _expected_state(spark, model: dict):
    if not model:
        return set()
    exp = similarity.with_quantized_norm(
        _df(spark, sorted(model.items())), "embedding"
    )
    return {
        (r["vec_id"], tuple(r["q"]), r["nrm2"])
        for r in exp.select("vec_id", "q", "nrm2").collect()
    }


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops)
def test_upsert_interleavings_match_dict_model(spark, tmp_path_factory, ops):
    path = str(tmp_path_factory.mktemp("prop_ann") / "ivf")
    similarity.build_ivf_index(
        _df(spark, [(v, 0) for v in BASE_IDS]), path, n_centroids=4
    )
    model = {v: 0 for v in BASE_IDS}  # vec_id -> version seq
    seq = 0
    for op in ops:
        if op[0] == "append":
            seq += 1
            # contract: append only ids not currently live (absent or
            # deleted) — an append of a live id is a duplicate, not an
            # upsert; the upsert path is delete → append
            batch = [v for v in op[1] if v not in model]
            if not batch:
                continue
            append_ivf_index(spark, path, _df(spark, [(v, seq) for v in batch]))
            model.update({v: seq for v in batch})
        elif op[0] == "delete":
            n = delete_from_ivf_index(
                spark,
                path,
                _df(spark, [(v, 0) for v in op[1]]).select("vec_id"),
            )
            # hits = ids physically present (live or already-tombstoned
            # but not yet folded); at least every live victim is hit
            assert n >= len([v for v in op[1] if v in model])
            for v in op[1]:
                model.pop(v, None)
        else:
            before = _live_state(spark, path)
            compact_ivf_index(spark, path)
            # compact is serve-invariant and clears all tombstones
            assert _live_state(spark, path) == before
            assert similarity.ivf_tombstones(spark, path) is None
        assert _live_state(spark, path) == _expected_state(spark, model)
    # final full fold + vacuum: physical rows == model exactly
    compact_ivf_index(spark, path)
    assert similarity.ivf_tombstones(spark, path) is None
    vacuum_ivf_index(spark, path, keep_pointers=1)
    assert _triples(_rows_on_disk(spark, path)) == _expected_state(spark, model)
