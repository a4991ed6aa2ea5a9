"""Differential property tests for the banded SimHash near-dup search.

Hypothesis drives arbitrary 60-bit signature sets (base values plus
near-dup derivatives within a few bit flips); the banded Spark plan must
return exactly the brute-force all-pairs Hamming answer — the pigeonhole
exhaustiveness claim (max_distance < bands) checked against adversarial
bit patterns, not just the docs fixture.
"""

import math
from itertools import combinations

from hypothesis import HealthCheck, given, settings, strategies as st

from smoltable_spark.functions import dedup

BITS, BANDS, MAXD = 60, 4, 3


@settings(max_examples=200, deadline=None)
@given(
    num=st.integers(min_value=0, max_value=63),
    den_pow=st.integers(min_value=1, max_value=6),
    n=st.integers(min_value=1, max_value=400),
)
def test_sample_closed_form_matches_reference_accumulator(num, den_pow, n):
    """The scan sample's closed form (emit iff rk==1 or floor crossing;
    emitted rank = 1 + floor(rk*rate)) must reproduce the reference's
    accumulator trace (row_sample_counter starts at 1.0, mod.rs:660,
    736-746) exactly for dyadic rates, where f64 accumulation is exact."""
    rate = num / (1 << den_pow)
    if rate >= 1.0:
        return  # reference disables sampling at >= 1.0 (mod.rs:737)
    ref, c = [], 1.0
    for i in range(1, n + 1):
        c += rate
        if c >= 1.0:
            c -= 1.0
            ref.append(i)
    closed = [
        i
        for i in range(1, n + 1)
        if i == 1 or math.floor(i * rate) > math.floor((i - 1) * rate)
    ]
    assert closed == ref
    for pos, i in enumerate(closed, start=1):
        assert 1 + math.floor(i * rate) == pos  # the rank closed form


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    th_millis=st.sampled_from([300, 500, 700]),
)
def test_blocked_jaccard_equals_bruteforce(spark, texts, th_millis):
    """The (block, size-bucket) pruning must be invisible in the result:
    blocked_jaccard == brute-force within-block threshold filter, for
    arbitrary corpora (including empty and single-token docs) and
    non-dyadic thresholds."""
    th = th_millis / 1000
    rows = [(i, "xx", t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    sh = {
        r["doc_id"]: set(r["sh_arr"])
        for r in dedup.shingle_arrays(docs, k=3).collect()
    }
    want = set()
    for a, b in combinations(sorted(sh), 2):
        common = len(sh[a] & sh[b])
        union = len(sh[a]) + len(sh[b]) - common
        if common * 1000 >= int(th * 1000) * union:
            want.add((a, b))
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.blocked_jaccard_near_duplicates(
            docs, block_col="lang", threshold=th
        ).collect()
    }
    assert got == want


@st.composite
def signature_sets(draw):
    base = draw(
        st.lists(
            st.integers(min_value=0, max_value=(1 << BITS) - 1),
            min_size=1,
            max_size=6,
            unique=True,
        )
    )
    sigs = list(base)
    # derivatives: flip 0..5 bits of a base value so Hamming-close pairs
    # (including exact dups) actually occur — uniform random 60-bit values
    # are essentially never within distance 3 of each other
    n_derived = draw(st.integers(min_value=0, max_value=8))
    for _ in range(n_derived):
        src = draw(st.sampled_from(base))
        flips = draw(
            st.lists(
                st.integers(min_value=0, max_value=BITS - 1),
                min_size=0,
                max_size=5,
                unique=True,
            )
        )
        for b in flips:
            src ^= 1 << b
        sigs.append(src)
    return list(enumerate(sigs))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(sig_rows=signature_sets())
def test_banded_simhash_equals_bruteforce(spark, sig_rows):
    want = {
        (a, b): bin(sa ^ sb).count("1")
        for (a, sa), (b, sb) in combinations(sig_rows, 2)
        if bin(sa ^ sb).count("1") <= MAXD
    }
    sigs_df = spark.createDataFrame(sig_rows, "doc_id long, simhash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(
            None, bits=BITS, bands=BANDS, max_distance=MAXD, sigs=sigs_df
        ).collect()
    }
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(
        st.integers(min_value=0, max_value=9), min_size=2, max_size=12
    ),
    shuffle_seed=st.integers(min_value=0, max_value=2**31 - 1),
    kind=st.sampled_from(["write", "append"]),
)
def test_dedup_coords_explicit_seq(spark, tmp_path_factory, values, shuffle_seed, kind):
    """The in-batch ordering contract of ``CellStore.write``/``append``:
    with an explicit seq_col the winning duplicate is the max-seq value
    REGARDLESS of how the input DataFrame is partitioned or shuffled —
    hypothesis drives duplicate coordinate batches through an
    adversarial repartition into a base or a delta commit, and the
    highest-sequence write must always win."""
    import random

    from pyspark.sql import functions as F

    from smoltable_spark.sources.store import CellStore

    rows = [
        {
            "row_key": "r1",
            "family": "f",
            "qualifier": "q",
            "ts": 7,
            "vtype": "i64",
            "v_str": None,
            "v_bool": None,
            "v_byte": None,
            "v_i32": None,
            "v_i64": v,
            "v_f32": None,
            "v_f64": None,
            "wseq": i,
        }
        for i, v in enumerate(values)
    ]
    random.Random(shuffle_seed).shuffle(rows)
    from smoltable_spark.schema import CELLS_SCHEMA
    from pyspark.sql import types as T

    schema = T.StructType(CELLS_SCHEMA.fields + [T.StructField("wseq", T.LongType())])
    df = spark.createDataFrame(rows, schema).repartition(5, "v_i64")  # adversarial layout
    store = CellStore(spark, str(tmp_path_factory.mktemp("dedup") / "s"))
    getattr(store, kind)(df, seq_col="wseq")
    out = store.read().drop("lg").collect()
    assert len(out) == 1
    assert out[0]["v_i64"] == values[-1]  # max wseq == last logical write
    assert "wseq" not in out[0].asDict()  # seq column is consumed
