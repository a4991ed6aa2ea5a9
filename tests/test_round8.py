"""Round-8 suite: baseline COLOR JPEG (YCbCr, chroma subsampling) —
encoder/decoder roundtrips across sampling modes, restart intervals,
table binding, the T.871 conversion contract, and the Spark
``synthesize_color_media`` -> ``color_features`` pipeline
(VERDICT r7 ask #7, retiring the multi-component codec boundary)."""

import numpy as np
import pytest

from smoltable_spark.functions import multimodal as M


def _expected_rgb_const(mid: int, w: int, h: int) -> np.ndarray:
    """Closed-form decode of the block-constant 4:2:0 synthesis — the
    same arithmetic the mm_color_features oracle runs in SQL."""
    mw, mh = (w + 15) // 16, (h + 15) // 16
    bw = 2 * mw
    bx = np.arange(w) // 8
    by = np.arange(h) // 8
    yv = (mid + by[:, None] * bw + bx[None, :]) % 256
    mi, mj = bx // 2, by // 2
    midx = mj[:, None] * mw + mi[None, :]
    cb = (3 * mid + midx + 101) % 256
    cr = (7 * mid + midx + 53) % 256
    return M.ycbcr_to_rgb(yv, cb, cr)


@pytest.mark.parametrize("mid,w,h", [(0, 16, 16), (3, 17, 23), (12, 79, 63), (7, 21, 19)])
def test_color_block_constant_roundtrip_exact(mid, w, h):
    y, cb, cr = M.color_block_values(mid, w, h)
    payload = M.jpeg_bytes_color(w, h, b"color!", y, cb, cr)
    info = M.parse_container(payload)
    assert info["container"] == "jpeg"
    assert (info["ncomp"], info["width"], info["height"]) == (3, w, h)
    assert info["sof_comps"][0][1] == 0x22  # 4:2:0 HiVi byte
    assert info["content"] == b"color!"
    rgb = M.jpeg_decode_color(info)
    assert rgb.shape == (h, w, 3)
    assert np.array_equal(rgb, _expected_rgb_const(mid, w, h))


def test_color_restart_interval_matches_unrestarted():
    y, cb, cr = M.color_block_values(5, 40, 40)
    plain = M.jpeg_decode_color(
        M.parse_container(M.jpeg_bytes_color(40, 40, b"", y, cb, cr))
    )
    restarted = M.parse_container(
        M.jpeg_bytes_color(40, 40, b"", y, cb, cr, restart_interval=2)
    )
    assert len(restarted["scan_segments"]) > 1  # RSTm really present
    assert np.array_equal(M.jpeg_decode_color(restarted), plain)


@pytest.mark.parametrize("sampling", [(2, 2), (2, 1), (1, 2), (1, 1)])
def test_color_pixels_roundtrip_all_samplings(sampling):
    """Arbitrary-plane encode (real forward DCT, full AC tables) decodes
    within the rounding budget: coefficient rounding perturbs each YCbCr
    sample by <= 1, and the T.871 transform amplifies a (dy, dcb, dcr)
    unit box by < 3 per RGB channel."""
    rng = np.random.RandomState(42 + sampling[0] * 10 + sampling[1])
    hy, vy = sampling
    w, h = 37, 29
    yp = rng.randint(0, 256, (h, w))
    cw, ch = -(-w // hy), -(-h // vy)
    cbp = rng.randint(0, 256, (ch, cw))
    crp = rng.randint(0, 256, (ch, cw))
    payload = M.jpeg_bytes_color_pixels(
        w, h, b"x", yp, cbp, crp, sampling=sampling, restart_interval=3
    )
    info = M.parse_container(payload)
    assert info["sof_comps"][0][1] == (hy << 4) | vy
    rgb = M.jpeg_decode_color(info)
    cbref = np.repeat(np.repeat(cbp, vy, axis=0), hy, axis=1)[:h, :w]
    crref = np.repeat(np.repeat(crp, vy, axis=0), hy, axis=1)[:h, :w]
    exp = M.ycbcr_to_rgb(yp, cbref, crref)
    assert np.abs(rgb.astype(int) - exp.astype(int)).max() <= 3


def test_color_uses_chroma_tables():
    """Chroma components bind DHT/DQT id 1, luma id 0 — a decoder that
    ignores per-component table ids would still pass the value tests
    (the shipped tables are identical), so pin the BINDING itself from
    the parsed header."""
    y, cb, cr = M.color_block_values(1, 16, 16)
    info = M.parse_container(M.jpeg_bytes_color(16, 16, b"", y, cb, cr))
    assert [tq for _, _, tq in info["sof_comps"]] == [0, 1, 1]
    assert [(td, ta) for _, td, ta in info["sos"]["comps"]] == [(0, 0), (1, 1), (1, 1)]
    assert set(info["dht"]) >= {(0, 0), (1, 0), (0, 1), (1, 1)}
    assert set(info["dqt"]) == {0, 1}


def test_ycbcr_to_rgb_contract():
    # gray axis: Cb = Cr = 128 -> R = G = B = Y
    y = np.arange(256).reshape(16, 16)
    n = np.full((16, 16), 128)
    rgb = M.ycbcr_to_rgb(y, n, n)
    assert np.array_equal(rgb[..., 0], y)
    assert np.array_equal(rgb[..., 1], y)
    assert np.array_equal(rgb[..., 2], y)
    # primary checkpoints (T.871 worked values)
    one = np.array([[76]])
    r = M.ycbcr_to_rgb(one, np.array([[85]]), np.array([[255]]))
    assert tuple(r[0, 0]) == (254, 0, 0)  # ~pure red
    # clamp both ends: G underflows at (0, 255, 255); B overflows at
    # (255, 255, ...): 255 + 1.772*127 = 480 -> 255
    lo = M.ycbcr_to_rgb(np.array([[0]]), np.array([[255]]), np.array([[255]]))
    hi = M.ycbcr_to_rgb(np.array([[255]]), np.array([[255]]), np.array([[128]]))
    assert lo[0, 0, 1] == 0 and hi[0, 0, 2] == 255


def test_grayscale_decoder_rejects_color():
    y, cb, cr = M.color_block_values(2, 16, 16)
    info = M.parse_container(M.jpeg_bytes_color(16, 16, b"", y, cb, cr))
    with pytest.raises(NotImplementedError, match="jpeg_decode_color"):
        M.jpeg_decode(info)


def test_color_decoder_rejects_grayscale():
    info = M.parse_container(
        M.jpeg_bytes(16, 16, b"", M.jpeg_block_values(1, 16, 16))
    )
    with pytest.raises(NotImplementedError, match="3- or 4-component"):
        M.jpeg_decode_color(info)


def test_color_features_pipeline(spark):
    """synthesize_color_media -> color_features end to end on a tiny
    documents frame: parsed dims/sampling and the exact channel means."""
    docs = spark.createDataFrame(
        [(0, "alpha"), (3, "beta"), (6, "gamma"), (12, "delta")],
        "doc_id long, text string",
    )
    media = M.synthesize_color_media(docs)
    rows = {r["media_id"]: r for r in M.color_features(media).collect()}
    assert set(rows) == {0, 3, 6, 12}
    for mid, row in rows.items():
        w, h = 16 + mid % 64, 16 + mid % 48
        assert (row["width"], row["height"], row["sampling"]) == (w, h, 0x22)
        exp = _expected_rgb_const(mid, w, h).astype(np.int64)
        n = w * h
        assert row["mean_r"] == exp[..., 0].sum() / n
        assert row["mean_g"] == exp[..., 1].sum() / n
        assert row["mean_b"] == exp[..., 2].sum() / n


# --- progressive color (round 8b) ---------------------------------------


@pytest.mark.parametrize("sampling", [(2, 2), (2, 1), (1, 1)])
@pytest.mark.parametrize("al", [0, 1, 2])
def test_progressive_color_bit_identical_to_baseline(sampling, al):
    """Full refinement reconstructs the exact rounded forward-DCT
    coefficients, so progressive and baseline decodes of the same
    planes are BIT-identical — at every sampling and refinement
    depth, including odd dims where the non-interleaved A.2.2 grid
    is smaller than the MCU-padded grid."""
    rng = np.random.RandomState(al * 10 + sampling[0] + sampling[1])
    hy, vy = sampling
    w, h = 17, 23  # ceil(17/8)=3 odd: exercises the grid mismatch
    yp = rng.randint(0, 256, (h, w))
    cbp = rng.randint(0, 256, (-(-h // vy), -(-w // hy)))
    crp = rng.randint(0, 256, (-(-h // vy), -(-w // hy)))
    base = M.jpeg_decode_color(M.parse_container(
        M.jpeg_bytes_color_pixels(w, h, b"b", yp, cbp, crp, sampling=sampling)
    ))
    info = M.parse_container(M.jpeg_bytes_progressive_color(
        w, h, b"p", yp, cbp, crp, sampling=sampling, al=al
    ))
    assert info["sof_marker"] == 0xC2 and info["ncomp"] == 3
    assert len(info["scans"]) == 4 + 4 * al  # 1 DC + 3 AC per level + firsts
    assert np.array_equal(M.jpeg_decode_color(info), base)


def test_progressive_color_dc_scan_is_interleaved():
    """The DC first scan must carry all three components (ns=3) and the
    AC scans exactly one — the script shape T.81 mandates."""
    y, cb, cr = M.color_block_values(4, 33, 25)
    yp = np.repeat(np.repeat(y, 8, 0), 8, 1)[:25, :33]
    cbp = np.repeat(np.repeat(cb, 8, 0), 8, 1)[:13, :17]
    crp = np.repeat(np.repeat(cr, 8, 0), 8, 1)[:13, :17]
    info = M.parse_container(
        M.jpeg_bytes_progressive_color(33, 25, b"", yp, cbp, crp, al=1)
    )
    ns = [s["sos"]["ns"] for s in info["scans"]]
    ss = [s["sos"]["ss"] for s in info["scans"]]
    assert ns == [3, 1, 1, 1, 3, 1, 1, 1]
    assert ss == [0, 1, 1, 1, 0, 1, 1, 1]


def test_jpeg_decode_ycbcr_native_dims():
    y, cb, cr = M.color_block_values(3, 17, 23)
    info = M.parse_container(M.jpeg_bytes_color(17, 23, b"t", y, cb, cr))
    (yp, cbp, crp), samp = M.jpeg_decode_ycbcr(info)
    assert samp == (2, 2)
    assert yp.shape == (23, 17)            # luma at image dims
    assert cbp.shape == crp.shape == (12, 9)  # ceil(23/2) x ceil(17/2)
    # the planes are the block constants themselves
    assert yp[0, 0] == y[0, 0] and cbp[0, 0] == cb[0, 0]


def test_progressive_color_roundtrip_pipeline(spark):
    docs = spark.createDataFrame(
        [(0, "a"), (3, "b"), (12, "c")], "doc_id long, text string"
    )
    media = M.synthesize_color_media(docs)
    rows = {r["media_id"]: r for r in
            M.progressive_color_roundtrip(media).collect()}
    assert set(rows) == {0, 3, 12}
    for mid, row in rows.items():
        assert row["n_exact"] == row["n_px"] == row["width"] * row["height"]
        exp = _expected_rgb_const(mid, row["width"], row["height"]).astype(np.int64)
        assert (row["sum_r"], row["sum_g"], row["sum_b"]) == (
            exp[..., 0].sum(), exp[..., 1].sum(), exp[..., 2].sum(),
        )


# --- pack_split: concatenate-then-chunk packing (round 8c) ---------------


def test_pack_split_matches_python_reference(spark):
    from smoltable_spark.functions import text as T

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range((i * 7) % 23 + 1)))
         for i in range(50)],
        "doc_id long, text string",
    )
    rows = T.pack_split(docs, length=16).collect()
    got = {(r["doc_id"], r["seq_id"]): r["tok_in_seq"] for r in rows}
    # reference: sequential cumsum + span arithmetic
    exp = {}
    off = 0
    for i in range(50):
        n = (i * 7) % 23 + 1
        for s in range(off // 16, (off + n - 1) // 16 + 1):
            exp[(i, s)] = min((s + 1) * 16, off + n) - max(s * 16, off)
        off += n
    assert got == exp
    # every sequence full except the last; token conservation
    per_seq = {}
    for (_d, s), t in got.items():
        per_seq[s] = per_seq.get(s, 0) + t
    last = max(per_seq)
    assert all(v == 16 for s, v in per_seq.items() if s != last)
    assert sum(per_seq.values()) == off


def test_pack_split_heavy_window_is_bucketed(spark):
    """The corpus-sized cumsum window must partition by the range
    bucket — a plan regression to a global single-partition window is
    the scale killer this operator exists to avoid."""
    from smoltable_spark.functions import text as T

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(10)], "doc_id long, text string"
    )
    plan = T.pack_split(docs)._jdf.queryExecution().executedPlan().toString()
    heavy = [
        ln for ln in plan.splitlines()
        if "Window" in ln and "ntok" in ln and "doc_id" in ln
    ]
    assert heavy, plan
    assert all("windowspecdefinition(b#" in ln for ln in heavy), heavy[0]


# --- round-8d review-fix guards -------------------------------------------


def test_pack_split_sparse_clustered_ids(spark):
    """Quantile (rank) bucketing keeps pack_split correct AND balanced
    when doc ids are sparse or clustered: one outlier id of 10^12 used
    to stretch the value-width buckets so every real doc fell into
    bucket 0 (the single-partition window the operator exists to
    avoid). Correctness is id-density-independent either way; this pins
    the packing under the pathological id shape."""
    from smoltable_spark.functions import text as T

    ids = [100_000 + i for i in range(40)] + [10**12]
    docs = spark.createDataFrame(
        [(d, " ".join(f"w{j}" for j in range((d * 7) % 23 + 1)))
         for d in ids],
        "doc_id long, text string",
    )
    rows = T.pack_split(docs, length=16).collect()
    got = {(r["doc_id"], r["seq_id"]): r["tok_in_seq"] for r in rows}
    exp = {}
    off = 0
    for d in sorted(ids):
        n = (d * 7) % 23 + 1
        for s in range(off // 16, (off + n - 1) // 16 + 1):
            exp[(d, s)] = min((s + 1) * 16, off + n) - max(s * 16, off)
        off += n
    assert got == exp


def test_orphan_boundary_sidecar_is_ignored(spark, tmp_path):
    """An aborted compact() leaves a boundary sidecar whose snapshot was
    never committed. Later commits must keep bucketing under the LAST
    EFFECTIVE set — if the orphan took effect, a post-abort delta would
    bucket under the new set while the un-rewritten base sits under the
    old one, and key_range_scan's covering pruning would silently drop
    in-range base rows (the round-8 review finding)."""
    from pyspark.sql import functions as F

    from smoltable_spark.api import ColumnFamilyDef
    from smoltable_spark.sources.store_layout import RangeZorderCellStore

    from test_round7 import _mk_cells

    s = RangeZorderCellStore(
        spark, str(tmp_path / "rz"), b_bucket=lambda: F.col("ts") % 4,
        bits=2,
    )
    s.save_families([ColumnFamilyDef("value")])
    s.write(_mk_cells(spark, [(f"k{i:02d}", i, i) for i in range(12)]))
    # drifted delta, then a compact that dies between sidecar write and
    # snapshot commit (exactly compact()'s first half)
    s.append(_mk_cells(spark, [(f"zz{i}", i, 100 + i) for i in range(6)]))
    s._write_boundaries(
        s.read().select("row_key", "family", "qualifier", "ts", "vtype",
                        "v_str", "v_bool", "v_byte", "v_i32", "v_i64",
                        "v_f32", "v_f64"),
        at_version=s.current_version() + 1,
    )
    assert 3 in s.boundary_versions()  # the orphan exists on disk...
    # ...until the next commit of v3, which removes it: a post-abort
    # append buckets under v=1 and every row stays served
    s.append(_mk_cells(spark, [(f"zx{i}", i, 200 + i) for i in range(3)]))
    assert s.boundary_versions() == [1]
    out = s.key_range_scan("k", "zz~", b_values=[0, 1, 2, 3])
    assert out.count() == 21
    assert s.boundaries_for(s.current_version()) == s.boundaries_for(1)
    # a RETRIED compact commits base+sidecar together and takes over
    v = s.compact()
    assert s._kind(v) == "base"
    assert s.boundary_versions() == [1, v]
    assert s.key_range_scan("k", "zz~", b_values=[0, 1, 2, 3]).count() == 21


def test_cdc_stream_over_zorder_delta_legs(spark, tmp_path):
    """VERDICT r8 ask #4 (superseding the r8 construction-time
    rejection): a layout store streams its DELTA LEGS via the
    ``v=*/lg=*/*.parquet`` glob — base legs' zb= dirs never match, the
    zb data column is schema-pruned, and the rollup over the delta
    chain equals the batch aggregate. A compact() (base rewrite whose
    files are INVISIBLE to the delta-only stream) must still raise the
    resync error at the next incarnation's wiring time, even though it
    produces zero micro-batches."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from smoltable_spark.api import ColumnFamilyDef
    from smoltable_spark.sources.store_layout import ZorderCellStore
    from smoltable_spark.streaming.store_cdc import (
        StoreChangeRollup,
        stream_store_changes,
        stream_store_rollup,
    )
    from tests.conftest import make_cells

    zs = ZorderCellStore(
        spark, str(tmp_path / "z"),
        a_bucket=lambda: F.col("ts") % 4,
        b_bucket=lambda: F.length("row_key") % 4, bits=2,
    )
    zs.save_families([ColumnFamilyDef("value", lg="")])
    roll = StoreChangeRollup(
        spark, str(tmp_path / "roll"), keys=["family"],
        sums={"s": "v_i64"}, store=zs,
    )

    def drain():
        s = stream_store_changes(spark, zs)
        q = stream_store_rollup(s, roll, str(tmp_path / "ckpt"))
        assert q.awaitTermination(120)

    zs.append(make_cells(spark, [
        ("a", "value", "", 1, "i64", 10),
        ("bb", "value", "", 2, "i64", 20),
    ]))
    drain()
    zs.append(make_cells(spark, [("ccc", "value", "", 3, "i64", 5)]))
    drain()
    got = {r["family"]: (r["s"], r["_rows"]) for r in roll.result().collect()}
    assert got == {"value": (35, 3)}
    assert roll.processed_rows() == 3

    zs.compact()  # base rewrite: zb=-partitioned files, not streamable
    with _pytest.raises(ValueError, match="base rewrite"):
        drain()


def test_color_decode_fractional_ratio_supported():
    """SUPERSEDED r8 boundary (round 10): T.81's Y at H=3 with chroma
    at H=2 (a 3/2 ratio) now decodes via the floor-map upsample instead
    of raising — see tests/test_round10.py for the bit-exact roundtrip
    matrix. This pin only asserts the old rejection is gone."""
    import numpy as np

    from smoltable_spark.functions.multimodal import (
        color_block_values_samplings,
        jpeg_bytes_color_samplings,
        jpeg_decode_color,
        parse_container,
    )

    samp = [(3, 1), (2, 1), (2, 1)]
    payload = jpeg_bytes_color_samplings(
        30, 10, b"", color_block_values_samplings(7, 30, 10, samp), samp
    )
    rgb = jpeg_decode_color(parse_container(payload))
    assert rgb.shape == (10, 30, 3) and rgb.dtype == np.uint8


# --- incremental MinHash dedup (round 8e) ---------------------------------


def _mh_ref(corpus, batch, num_hashes=16, bands=4, k=3, threshold=0.5):
    """Pure-Python reference of functions/dedup_incremental.py: same
    md5/affine family, band polynomials, integer-threshold Jaccard and
    min-id-wins batch convention."""
    import hashlib

    from smoltable_spark.functions.dedup import MINHASH_P, minhash_params

    def md5l(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def hset(t):
        ts = [w for w in t.lower().split(" ") if w]
        n = len(ts)
        return {
            md5l(" ".join(ts[i - 1 : i - 1 + k]))
            for i in range(1, max(n - (k - 1), 1) + 1)
        }

    params = minhash_params(num_hashes)
    rows = num_hashes // bands

    def buckets(hs):
        sig = [min((a * (h % MINHASH_P) + b) % MINHASH_P for h in hs)
               for a, b in params]
        out = set()
        for b in range(bands):
            x = 0
            for i in range(b * rows, (b + 1) * rows):
                x = x * 31 + sig[i]
            out.add((b, x))
        return out

    num = round(threshold * 1000)

    def verified(ha, hb_):
        common = len(ha & hb_)
        return common * 1000 >= num * (len(ha) + len(hb_) - common)

    cidx = {i: hset(t) for i, t in corpus}
    cbkt = {i: buckets(h) for i, h in cidx.items()}
    bidx = {i: hset(t) for i, t in batch}
    bbkt = {i: buckets(h) for i, h in bidx.items()}
    out = {}
    for i, h in bidx.items():
        cd = any(
            bbkt[i] & cbkt[j] and verified(h, cidx[j]) for j in cidx
        )
        bd = any(
            j < i and bbkt[i] & bbkt[j] and verified(h, bidx[j])
            for j in bidx
        )
        out[i] = (len(h), int(cd), int(bd), int(not (cd or bd)))
    return out


def test_minhash_incremental_matches_reference(spark):
    from smoltable_spark.functions.dedup_incremental import (
        lsh_index,
        minhash_dedup_incremental,
    )

    base = " ".join(f"tok{j}" for j in range(60))
    corpus = [
        (1, base),
        (2, " ".join(f"alt{j}" for j in range(40))),
        (3, "completely different short text here now"),
    ]
    near_a = base.replace("tok30", "changed")
    text_c = " ".join(f"beta{j}" for j in range(50))
    near_c = text_c.replace("beta7", "edited")
    batch = [
        (4, near_a),          # near-dup of corpus doc 1
        (8, text_c),          # novel -> admitted
        (12, near_c),         # near-dup of batch doc 8 -> batch_dup
        (16, "a wholly unrelated document about nothing at all"),
    ]
    exp = _mh_ref(corpus, batch)
    # the planted pairs must actually exercise both dup channels
    assert exp[4][1] == 1, "planted corpus near-dup did not collide"
    assert exp[12][2] == 1, "planted batch near-dup did not collide"
    assert exp[8][3] == 1 and exp[16][3] == 1

    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    bdf = spark.createDataFrame(batch, "doc_id long, text string")
    idx = lsh_index(cdf)
    got = {
        r["doc_id"]: (r["sz"], r["corpus_dup"], r["batch_dup"], r["admitted"])
        for r in minhash_dedup_incremental(idx, bdf).collect()
    }
    assert got == exp


def test_minhash_incremental_index_survives_parquet(spark, tmp_path):
    """The persisted-index detour must be invisible: probing a parquet
    round-tripped index gives the same admit set as probing the live
    DataFrame (the steady-state loop stores ONLY the index)."""
    from smoltable_spark.functions.dedup_incremental import (
        lsh_index,
        minhash_dedup_incremental,
    )

    docs = [(i, " ".join(f"w{(i * 13 + j) % 40}" for j in range(25)))
            for i in range(30)]
    cdf = spark.createDataFrame(docs[:20], "doc_id long, text string")
    bdf = spark.createDataFrame(docs[20:], "doc_id long, text string")
    live = lsh_index(cdf)
    p = str(tmp_path / "lsh")
    live.write.parquet(p)
    from_disk = spark.read.parquet(p)
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(minhash_dedup_incremental(live, bdf)) == key(
        minhash_dedup_incremental(from_disk, bdf)
    )


def test_minhash_incremental_hot_bucket_guard(spark):
    """max_bucket_df raises (fail-loud, like blocked Jaccard's
    max_block_rows) when an index band bucket exceeds the cap."""
    import pytest as _pytest

    from smoltable_spark.functions.dedup_incremental import (
        lsh_index,
        minhash_dedup_incremental,
    )

    same = "identical boilerplate text repeated across the corpus body"
    cdf = spark.createDataFrame(
        [(i, same) for i in range(5)], "doc_id long, text string"
    )
    bdf = spark.createDataFrame([(100, same)], "doc_id long, text string")
    idx = lsh_index(cdf)
    with _pytest.raises(ValueError, match="max_bucket_df"):
        minhash_dedup_incremental(idx, bdf, max_bucket_df=2)
    # generous cap: runs, and every batch doc is a corpus dup
    out = minhash_dedup_incremental(idx, bdf, max_bucket_df=100).collect()
    assert out[0]["corpus_dup"] == 1 and out[0]["admitted"] == 0


def test_lsh_index_append_equals_rebuild(spark):
    """The steady-state loop appends lsh_index(admitted batch) to the
    persisted index. Because the index is strictly per-document under a
    FROZEN hash family (no cross-doc state — unlike IVF centroids),
    append ≡ rebuild exactly: index(corpus ∪ batch) is row-identical to
    index(corpus) ∪ index(batch)."""
    from smoltable_spark.functions.dedup_incremental import lsh_index

    docs = [(i, " ".join(f"w{(i * 7 + j) % 31}" for j in range(20)))
            for i in range(24)]
    a = spark.createDataFrame(docs[:16], "doc_id long, text string")
    b = spark.createDataFrame(docs[16:], "doc_id long, text string")
    both = spark.createDataFrame(docs, "doc_id long, text string")

    def norm(df):
        return sorted(
            (r["doc_id"], r["sz"], tuple(sorted(r["hshs"])),
             tuple(sorted((x["band"], x["bucket"]) for x in r["buckets"])))
            for r in df.collect()
        )

    assert norm(lsh_index(a).unionByName(lsh_index(b))) == norm(lsh_index(both))


def test_pending_boundaries_never_leak_to_older_reads(spark, tmp_path):
    """During a base commit the in-flight sidecar (``_pending_base``) is
    visible ONLY to the write path, which resolves exactly that
    version; a read of an older snapshot issued mid-commit must keep
    resolving the old set (the write-side covering and the base rows on
    disk would otherwise disagree)."""
    from pyspark.sql import functions as F

    from smoltable_spark.api import ColumnFamilyDef
    from smoltable_spark.sources.store_layout import RangeZorderCellStore

    from test_round7 import _mk_cells

    s = RangeZorderCellStore(
        spark, str(tmp_path / "rz"), b_bucket=lambda: F.col("ts") % 4,
        bits=2,
    )
    s.save_families([ColumnFamilyDef("value")])
    s.write(_mk_cells(spark, [(f"k{i:02d}", i, i) for i in range(12)]))
    s.append(_mk_cells(spark, [(f"zz{i}", i, 100 + i) for i in range(6)]))
    b1 = s.boundaries_for(1)
    # mimic compact()'s first half with the commit still in flight
    s._write_boundaries(s.read().select(
        "row_key", "family", "qualifier", "ts", "vtype", "v_str",
        "v_bool", "v_byte", "v_i32", "v_i64", "v_f32", "v_f64",
    ), at_version=3)
    s._pending_base = 3
    try:
        b3 = s.boundaries_for(3)  # the write path sees the new set
        assert b3 != b1
        assert s.boundaries_for(2) == b1  # older reads never do
        assert s.boundaries_for(1) == b1
    finally:
        s._pending_base = None


# --- round-8f review-fix guards -------------------------------------------


def test_key_image_version_marker_rejects_old_stores(spark, tmp_path):
    """A store range-bucketed under a DIFFERENT key-image formula must
    refuse to serve key_range_scan (its sidecar boundaries and on-disk
    zb assignments disagree with this code's image — silent row loss
    otherwise). New stores stamp the marker; a sidecar without one
    reads as image v1 and is rejected."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from smoltable_spark.api import ColumnFamilyDef
    from smoltable_spark.sources.store_layout import RangeZorderCellStore

    from test_round7 import _mk_cells

    s = RangeZorderCellStore(
        spark, str(tmp_path / "rz"), b_bucket=lambda: F.col("ts") % 4,
        bits=2,
    )
    s.save_families([ColumnFamilyDef("value")])
    s.write(_mk_cells(spark, [(f"k{i:02d}", i, i) for i in range(8)]))
    marker = s._image_version_path()
    assert os.path.exists(marker)
    assert s.key_range_scan("k", "k~", b_values=[0, 1, 2, 3]).count() == 8
    os.remove(marker)  # simulate a store written before the marker / v1
    s._boundaries_cache.clear()
    with _pytest.raises(ValueError, match="pruning would"):
        s.key_range_scan("k", "k~", b_values=[0, 1, 2, 3])
    with _pytest.raises(ValueError, match="pruning would"):
        s.append(_mk_cells(spark, [("zz", 1, 1)]))  # write side too


def test_rollup_start_version_survives_restart(spark, tmp_path):
    """The base-rewrite guard horizon is persisted at first
    construction: a rollup RECONSTRUCTED after a rewrite must still
    flag the rewrite (deriving the horizon from current_version() at
    reconstruction would bless it and double-count)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from smoltable_spark.api import ColumnFamilyDef
    from smoltable_spark.sources.store import CellStore
    from smoltable_spark.streaming.store_cdc import StoreChangeRollup

    from test_round7 import _mk_cells

    store = CellStore(spark, str(tmp_path / "store"))
    store.save_families([ColumnFamilyDef("value")])
    roll = StoreChangeRollup(
        spark, str(tmp_path / "roll"), keys=["family"],
        sums={"total": "cast(v_f64 as long)"}, store=store,
    )
    assert roll._start_version == 0
    store.append(_mk_cells(spark, [("a", 1, 1.0)]))
    store.compact()  # base rewrite at v2, process "down" meanwhile
    re_roll = StoreChangeRollup(
        spark, str(tmp_path / "roll"), keys=["family"],
        sums={"total": "cast(v_f64 as long)"}, store=store,
    )
    assert re_roll._start_version == 0  # persisted, NOT current_version()
    batch = store.read().withColumn("v", F.lit(2)).withColumn(
        "lg", F.lit("")
    )
    with _pytest.raises(ValueError, match="base rewrite"):
        re_roll._guard_append_only(batch)


def test_rollup_rejects_checkpoint_swap(spark, tmp_path):
    """Batch ids are monotone only within one checkpoint generation:
    pairing an existing rollup with a different (or rebuilt) checkpoint
    must fail loudly instead of silently swallowing replayed ids."""
    import os

    import pytest as _pytest

    from smoltable_spark.streaming.store_cdc import StoreChangeRollup

    roll = StoreChangeRollup(
        spark, str(tmp_path / "roll"), keys=["k"], sums={"s": "1"},
    )
    ck1 = str(tmp_path / "ck1")
    roll._bind_checkpoint(ck1)
    roll._bind_checkpoint(ck1)  # idempotent
    with _pytest.raises(ValueError, match="bound to checkpoint"):
        roll._bind_checkpoint(str(tmp_path / "ck2"))
    # same path but checkpoint rebuilt after batches were folded
    roll._commit_meta({**roll._meta(), "last_batch_id": 3})
    assert not os.path.isdir(ck1)
    with _pytest.raises(ValueError, match="no longer exists"):
        roll._bind_checkpoint(ck1)


def test_pack_split_raises_on_uncastable_ids(spark):
    import pytest as _pytest

    from smoltable_spark.functions import text as T

    docs = spark.createDataFrame(
        [("doc-1", "a b c"), ("2", "d e")], "doc_id string, text string"
    )
    with _pytest.raises(Exception, match="not castable"):
        T.pack_split(docs, length=4)


def test_rollup_legacy_meta_fails_loudly(spark, tmp_path):
    """A rollup whose meta predates horizon/binding recording but has
    already folded batches cannot be resumed safely: back-stamping the
    horizon would bless rewrites committed while down, and any offered
    checkpoint might number batches from 0 — both must raise, not
    guess."""
    import json
    import os

    import pytest as _pytest

    from smoltable_spark.api import ColumnFamilyDef
    from smoltable_spark.sources.store import CellStore
    from smoltable_spark.streaming.store_cdc import StoreChangeRollup

    store = CellStore(spark, str(tmp_path / "store"))
    store.save_families([ColumnFamilyDef("value")])
    p = str(tmp_path / "roll")
    os.makedirs(p)
    with open(os.path.join(p, "_ROLLUP_META.json-v1"), "w") as fh:
        json.dump({"v": 1, "last_batch_id": 5, "version": 3}, fh)  # old revision
    with _pytest.raises(ValueError, match="no recorded start_version"):
        StoreChangeRollup(spark, p, keys=["k"], sums={"s": "1"},
                          store=store)
    # read-side (store=None) may still open it for result() polling...
    roll = StoreChangeRollup(spark, p, keys=["k"], sums={"s": "1"})
    # ...but binding a checkpoint to it is equally unverifiable
    with _pytest.raises(ValueError, match="no recorded checkpoint"):
        roll._bind_checkpoint(str(tmp_path / "ck"))


def test_rollup_read_side_never_stamps_horizon(spark, tmp_path):
    """A store=None (read-side) construction must not persist a horizon:
    the later streaming instance owns that stamp, computed from ITS
    store at first construction."""
    from smoltable_spark.api import ColumnFamilyDef
    from smoltable_spark.sources.store import CellStore
    from smoltable_spark.streaming.store_cdc import StoreChangeRollup

    from test_round7 import _mk_cells

    store = CellStore(spark, str(tmp_path / "store"))
    store.save_families([ColumnFamilyDef("value")])
    store.write(_mk_cells(spark, [("a", 1, 1.0)]))  # initial base, v1
    p = str(tmp_path / "roll")
    reader = StoreChangeRollup(spark, p, keys=["k"], sums={"s": "1"})
    assert "start_version" not in reader._meta()
    streamer = StoreChangeRollup(spark, p, keys=["k"], sums={"s": "1"},
                                 store=store)
    assert streamer._start_version == 1  # the store's version, not 0


def test_rollup_uri_checkpoint_binding(spark, tmp_path):
    """URI checkpoint locations bind verbatim (no abspath mangling) and
    skip the local-dir existence probe so restarts keep working."""
    from smoltable_spark.streaming.store_cdc import StoreChangeRollup

    roll = StoreChangeRollup(spark, str(tmp_path / "roll"), keys=["k"],
                             sums={"s": "1"})
    uri = "hdfs://nn:8020/ck/rollup"
    roll._bind_checkpoint(uri)
    assert roll._meta()["checkpoint"] == uri
    roll._commit_meta({**roll._meta(), "last_batch_id": 7})
    roll._bind_checkpoint(uri)  # folded + URI: no isdir probe, no raise
