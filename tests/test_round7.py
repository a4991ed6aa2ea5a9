"""Round-7 suite: aHash rarest-band recall channel (VERDICT r6 ask #4),
BMP orientation normalization for cross-container dedup (ADVICE r6), and
codec-boundary contract pins (VERDICT r6 stretch #8)."""

import numpy as np
import pytest

from smoltable_spark.functions import multimodal as M


def _bitmask_bmp(on_bits) -> bytes:
    """8x8 BMP whose aHash bits are EXACTLY ``on_bits`` in LOGICAL bit
    space: pixels in {0, 255} with 1 <= k <= 63 on-pixels make
    bit_j = (64*p_j > 255k) <=> p_j == 255, and an 8x8 source makes the
    thumb the identity map. BMP stores bottom-up, so the logical rows
    are written flipped — decode normalizes them back."""
    px = np.zeros(64, dtype=np.uint8)
    px[list(on_bits)] = 255
    return M.bmp_bytes(8, 8, px.reshape(8, 8)[::-1].tobytes())


def _media(spark, rows):
    """rows: (media_id, on_bits) -> media frame of 8x8 bitmask BMPs."""
    recs = [
        (int(mid), "image", _bitmask_bmp(bits), 8, 8, None)
        for mid, bits in rows
    ]
    return spark.createDataFrame(recs, M.MEDIA_SCHEMA)


#: the planted fixture: pair (1, 2) at Hamming 2 (dirty band 3), with
#: EVERY band of both images hot at max_df=2 — invisible to the capped
#: banded channel AND to the exact star (hashes differ). Fillers:
#: f1/f2 heat bands 0-2 (shared with the pair, far band 3); g*/h* heat
#: the pair's band-3 values so band 3 never wins the rarest election.
_A = frozenset({0, 1, 2, 3, 16, 17, 18, 32, 33, 34, 48, 49, 50})
_B = (_A - {50}) | {51}
_PLANT = [
    (1, _A),
    (2, _B),
    (3, (_A - {48, 49, 50}) | {54, 55, 56, 57, 58, 59, 60, 61}),  # f1
    (4, (_A - {48, 49, 50}) | {52, 53, 62, 63}),                  # f2
    (5, {4, 5, 6, 7, 20, 21, 22, 23, 36, 37, 38, 39, 48, 49, 50}),   # g1
    (6, {8, 9, 10, 11, 24, 25, 26, 27, 40, 41, 42, 43, 48, 49, 50}), # g2
    (7, {12, 13, 14, 15, 28, 29, 30, 31, 44, 45, 46, 47, 48, 49, 50}),  # g3
    (8, {4, 5, 20, 21, 36, 37, 48, 49, 51}),                      # h1
    (9, {8, 9, 24, 25, 40, 41, 48, 49, 51}),                      # h2
    (10, {12, 13, 28, 29, 44, 45, 48, 49, 51}),                   # h3
]


class TestAhashRarestBandChannel:
    def test_hot_band_near_pair_found_via_rarest_channel(self, spark):
        """VERDICT r6 ask #4: a d<=3 pair whose EVERY clean band exceeds
        max_df postings was structurally missed (and the oracle mirrored
        the miss). The rarest-band channel must now surface it: all four
        band dfs tie at 4, the election takes band 0 (lowest band_no)
        for both images, and only the pair elects that key (rdf=2)."""
        h = M.ahash_media(_media(spark, _PLANT))
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in M.ahash_near_pairs(h, max_df=2, max_hamming=3).collect()
        }
        assert pairs.get((1, 2)) == 2

    def test_capped_channels_alone_miss_the_plant(self, spark):
        """The same plant stays invisible to the banded+star channels:
        band postings of ids 1/2 all have df=4 > max_df=2 and the hashes
        are unequal. Guard that the fixture really exercises the rarest
        channel (if this starts passing, the fixture rotted)."""
        h = M.ahash_media(_media(spark, _PLANT)).localCheckpoint()
        hm = {r["media_id"]: (r["ahash_hi"], r["ahash_lo"]) for r in h.collect()}
        assert hm[1] != hm[2]
        import pyspark.sql.functions as F

        bands = h.select(
            "media_id",
            F.expr(
                "stack(4, 0, shiftright(ahash_hi, 16), 1, ahash_hi % 65536, "
                "2, shiftright(ahash_lo, 16), 3, ahash_lo % 65536) "
                "AS (band_no, band_val)"
            ),
        )
        df = (
            bands.groupBy("band_no", "band_val")
            .count()
            .join(bands.filter(F.col("media_id").isin(1, 2)),
                  ["band_no", "band_val"])
        )
        assert df.filter(F.col("count") <= 2).count() == 0

    def test_rarest_channel_has_its_own_cap(self, spark):
        """Residual bound as contract: when more than max_df images elect
        the SAME rarest key, the bucket is dropped and the pair is missed
        again (bounded pair volume beats unbounded recall). Extend the
        plant with two more band-0-electing images -> rdf=4 > 2."""
        extra = [
            (11, (_A - {48, 49, 50}) | {56, 57, 58, 59}),
            (12, (_A - {48, 49, 50}) | {60, 61, 62, 63}),
            # heat the band-3 values of 11/12 so they elect band 0 too
            (13, {4, 5, 6, 20, 21, 22, 36, 37, 38, 56, 57, 58, 59}),
            (14, {8, 9, 10, 24, 25, 26, 40, 41, 42, 56, 57, 58, 59}),
            (15, {12, 13, 14, 28, 29, 30, 44, 45, 46, 56, 57, 58, 59}),
            (16, {4, 6, 7, 20, 22, 23, 36, 38, 39, 60, 61, 62, 63}),
            (17, {8, 10, 11, 24, 26, 27, 40, 42, 43, 60, 61, 62, 63}),
            (18, {12, 14, 15, 28, 30, 31, 44, 46, 47, 60, 61, 62, 63}),
        ]
        h = M.ahash_media(_media(spark, _PLANT + extra))
        pairs = {
            (r["id_a"], r["id_b"])
            for r in M.ahash_near_pairs(h, max_df=2, max_hamming=3).collect()
        }
        assert (1, 2) not in pairs

    def test_default_cap_unchanged_on_clean_data(self, spark):
        """The new channel must not create pairs that fail the Hamming
        verify: random distinct images produce only verified d<=3 pairs,
        ordered and unique."""
        rng = np.random.RandomState(11)
        rows = []
        for i in range(16):
            bits = set(rng.choice(64, size=20, replace=False).tolist())
            rows.append((i, bits))
        out = M.ahash_near_pairs(
            M.ahash_media(_media(spark, rows)), max_df=4, max_hamming=3
        ).collect()
        keys = [(r["id_a"], r["id_b"]) for r in out]
        assert all(a < b for a, b in keys)
        assert len(keys) == len(set(keys))
        assert all(r["hamming"] <= 3 for r in out)


class TestBmpOrientation:
    def test_png_and_bottom_up_bmp_of_same_logical_image_hash_equal(
        self, spark
    ):
        """ADVICE r6: aHash is orientation-sensitive, so a spec-compliant
        bottom-up BMP and a PNG of the SAME logical image must produce
        the same hash after normalization. Before the fix the BMP decoded
        in stored (flipped) order and the cross-container dup was missed."""
        rng = np.random.RandomState(5)
        logical = rng.randint(0, 256, size=(24, 16)).astype(np.uint8)
        png = M.png_bytes(16, 24, b"t", logical.tobytes())
        bmp = M.bmp_bytes(16, 24, logical[::-1].tobytes())  # bottom-up
        media = spark.createDataFrame(
            [(1, "image", png, 16, 24, None), (2, "image", bmp, 16, 24, None)],
            M.MEDIA_SCHEMA,
        )
        got = {
            r["media_id"]: (r["ahash_hi"], r["ahash_lo"])
            for r in M.ahash_media(media).collect()
        }
        assert got[1] == got[2]

    def test_flip_invariant_consumers_unchanged(self, spark):
        """mean_luma and the luma histogram are value-only statistics —
        the orientation normalization must not change them (same bytes,
        any row order)."""
        rng = np.random.RandomState(9)
        logical = rng.randint(0, 256, size=(12, 12)).astype(np.uint8)
        bmp = M.bmp_bytes(12, 12, logical[::-1].tobytes())
        media = spark.createDataFrame(
            [(1, "image", bmp, 12, 12, None)], M.MEDIA_SCHEMA
        )
        feats = M.extract_features(media).collect()
        assert len(feats) == 1
        assert feats[0]["mean_luma"] == pytest.approx(float(logical.mean()))
        hist = M.luma_histogram(media, n_buckets=4).collect()
        got = {r["bucket"]: r["n_px"] for r in hist}
        want = {}
        for v in logical.ravel():
            want[int(v) // 64] = want.get(int(v) // 64, 0) + 1
        assert got == want


def _mk_cells(spark, rows):
    """rows: (row_key, ts, v) -> canonical single-family cell frame."""
    return spark.createDataFrame(
        [(rk, "value", "", ts, "f64", None, None, None, None, None, None,
          float(v))
         for rk, ts, v in rows],
        "row_key string, family string, qualifier string, ts long, "
        "vtype string, v_str string, v_bool boolean, v_byte int, "
        "v_i32 int, v_i64 long, v_f32 float, v_f64 double",
    )


class TestZorderCellStore:
    """sources/store_layout.py: the Morton composite partition key wired
    into the CellStore write path (VERDICT r6 ask #5)."""

    @staticmethod
    def _store(spark, tmp_path):
        from pyspark.sql import functions as F

        from smoltable_spark.api import ColumnFamilyDef
        from smoltable_spark.sources.store_layout import ZorderCellStore

        s = ZorderCellStore(
            spark,
            str(tmp_path / "zstore"),
            a_bucket=lambda: F.col("ts") % 4,
            b_bucket=lambda: F.length("row_key") % 4,
            bits=2,
        )
        s.save_families([ColumnFamilyDef("value")])
        return s

    def test_roundtrip_matches_plain_store(self, spark, tmp_path):
        """Same cells in, same cells out: the layout changes WHERE rows
        live, never WHAT the table contains."""
        from smoltable_spark.api import ColumnFamilyDef
        from smoltable_spark.sources.store import CellStore

        rows = [(f"k{i:03d}", i * 7 % 13, i) for i in range(40)]
        zs = self._store(spark, tmp_path)
        zs.write(_mk_cells(spark, rows))
        ps = CellStore(spark, str(tmp_path / "plain"))
        ps.save_families([ColumnFamilyDef("value")])
        ps.write(_mk_cells(spark, rows))
        key = ["row_key", "family", "qualifier", "ts", "v_f64"]
        got = sorted(map(tuple, zs.read().select(*key).collect()))
        want = sorted(map(tuple, ps.read().select(*key).collect()))
        assert got == want

    def test_box_scan_prunes_and_is_exact(self, spark, tmp_path):
        """box_scan + residual predicates == the full-scan filter, and
        the physical plan carries the zb partition filter (metadata-level
        pruning, the PLANS.md property)."""
        from pyspark.sql import functions as F

        rows = [(f"k{'x' * (i % 7)}", i, i) for i in range(64)]
        zs = self._store(spark, tmp_path)
        zs.write(_mk_cells(spark, rows))
        box = zs.box_scan(a_values=[1, 2], b_values=[0, 1]).filter(
            ((F.col("ts") % 4).isin(1, 2))
            & ((F.length("row_key") % 4).isin(0, 1))
        )
        full = zs.read().filter(
            ((F.col("ts") % 4).isin(1, 2))
            & ((F.length("row_key") % 4).isin(0, 1))
        )
        cols = ["row_key", "ts", "v_f64"]
        assert sorted(map(tuple, box.select(*cols).collect())) == sorted(
            map(tuple, full.select(*cols).collect())
        )
        plan = box._jdf.queryExecution().executedPlan().toString()
        assert "zb" in plan and ("INSET" in plan or " IN (" in plan), plan

    def test_delta_append_carries_zb_and_compaction_rezorders(
        self, spark, tmp_path
    ):
        """Deltas commit O(batch) with zb as a data column (read() unions
        by name); compact() folds them into a base whose zb is a real
        partition dir again."""
        import os

        zs = self._store(spark, tmp_path)
        zs.write(_mk_cells(spark, [(f"a{i}", i, i) for i in range(8)]))
        zs.append(_mk_cells(spark, [(f"b{i}", i, 100 + i) for i in range(4)]))
        assert zs.read().count() == 12
        assert "zb" in zs.read().columns
        v = zs.compact()
        base_dir = zs._version_dir(v)
        assert any(
            d.startswith("lg=") for d in os.listdir(base_dir)
        )
        lg_dir = next(
            os.path.join(base_dir, d)
            for d in os.listdir(base_dir)
            if d.startswith("lg=")
        )
        assert any(d.startswith("zb=") for d in os.listdir(lg_dir))
        assert zs.read(version=v).count() == 12


class TestRangeZorderCellStore:
    """sources/store_layout.py::RangeZorderCellStore — monotone key
    buckets from a persisted boundaries sidecar; correctness never
    depends on boundary quality."""

    @staticmethod
    def _store(spark, tmp_path, bits=2):
        from pyspark.sql import functions as F

        from smoltable_spark.api import ColumnFamilyDef
        from smoltable_spark.sources.store_layout import RangeZorderCellStore

        s = RangeZorderCellStore(
            spark,
            str(tmp_path / "rz"),
            b_bucket=lambda: F.col("ts") % 4,
            bits=bits,
        )
        s.save_families([ColumnFamilyDef("value")])
        return s

    def test_key_image_is_monotone(self):
        from smoltable_spark.sources.store_layout import _key_image_py

        keys = ["", "a", "ab", "click#user#1", "error#", "zz", "~"]
        images = [_key_image_py(k) for k in sorted(keys)]
        assert images == sorted(images)
        # ties only when the first 7 bytes tie
        assert _key_image_py("abcdefgXXX") == _key_image_py("abcdefgYYY")

    def test_range_scan_exact_and_pruned(self, spark, tmp_path):
        """key_range_scan == full-scan range filter, with a zb partition
        filter in the plan whose covering is a strict subset of 4^bits."""
        rows = [(f"{c}{i:02d}", i, i) for i in range(16)
                for c in "abcdefgh"]
        s = self._store(spark, tmp_path)
        s.write(_mk_cells(spark, rows))
        got = s.key_range_scan("b", "e", b_values=[1, 2])
        from pyspark.sql import functions as F

        want = s.read().filter(
            (F.col("row_key") >= "b") & (F.col("row_key") < "e")
        ).filter(F.col("zb").isNotNull())
        cols = ["row_key", "ts", "v_f64"]
        got_rows = got.filter((F.col("ts") % 4).isin(1, 2)).select(*cols)
        want_rows = want.filter((F.col("ts") % 4).isin(1, 2)).select(*cols)
        assert sorted(map(tuple, got_rows.collect())) == sorted(
            map(tuple, want_rows.collect())
        )
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "INSET" in plan or " IN (" in plan, plan

    def test_boundaries_persist_and_appends_reuse_them(
        self, spark, tmp_path
    ):
        """The sidecar is written once (first base) and reused by appends
        — re-opening the store reads the SAME boundaries, so bucket
        assignment is stable across the store's life (frozen-quantizer
        discipline, like the IVF index)."""
        import os

        from pyspark.sql import functions as F

        from smoltable_spark.sources.store_layout import RangeZorderCellStore

        s = self._store(spark, tmp_path)
        s.write(_mk_cells(spark, [(f"k{i:02d}", i, i) for i in range(12)]))
        assert os.path.isdir(s._boundaries_root)
        assert s.boundary_versions() == [1]
        b1 = s.boundaries_for(s.current_version())
        # skewed append: all keys beyond every boundary — must not rewrite
        s.append(_mk_cells(spark, [("zzz%d" % i, i, i) for i in range(3)]))
        assert s.boundary_versions() == [1]  # appends never re-estimate
        reopened = RangeZorderCellStore(
            spark, s.path, b_bucket=lambda: F.col("ts") % 4, bits=2
        )
        assert reopened.boundaries_for(reopened.current_version()) == b1
        # and the skewed rows are still served exactly (residual wins)
        out = reopened.key_range_scan("zzz", "zzz~", b_values=[0, 1, 2, 3])
        assert out.count() == 3

    def test_compact_rebuckets_and_versions_the_sidecar(
        self, spark, tmp_path
    ):
        """Drift-adaptive re-bucketing (VERDICT r7 ask #1): compact()
        recomputes boundaries from the folded snapshot and versions the
        sidecar at the compacted snapshot's number, so (a) post-compact
        boundaries reflect the drifted distribution, (b) the pre-compact
        snapshot still resolves ITS boundaries — time travel reads are
        bit-stable, and (c) results are identical at every version."""
        from pyspark.sql import functions as F

        s = self._store(spark, tmp_path)
        # batch 1: keys clustered low
        v1 = s.write(_mk_cells(spark, [(f"a{i:02d}", i, i) for i in range(12)]))
        b_v1 = s.boundaries_for(v1)
        # batch 2 (delta): keys clustered far above every v1 boundary
        v2 = s.append(_mk_cells(spark, [(f"z{i:02d}", i, 100 + i) for i in range(12)]))
        v3 = s.compact()
        assert (v1, v2, v3) == (1, 2, 3)
        assert s.boundary_versions() == [1, 3]
        b_v3 = s.boundaries_for(v3)
        assert b_v3 != b_v1  # re-estimated from the drifted union
        assert s.boundaries_for(v2) == b_v1  # old snapshot: old boundaries
        # post-compact boundaries adapted to the drift: the v1 estimate
        # saw only 'a' keys (every boundary below the 'z' cluster); the
        # v3 estimate sees the 50/50 union, so its upper quantile lands
        # INSIDE the 'z' cluster
        from smoltable_spark.sources.store_layout import _key_image_py

        lo_z = _key_image_py("z00")
        assert all(b < lo_z for b in b_v1)
        assert any(b >= lo_z for b in b_v3)
        # range scan for the drifted keys: identical rows at v2 and v3
        def rows(version):
            out = s.key_range_scan(
                "z", "z~", b_values=[0, 1, 2, 3], version=version
            )
            return sorted(
                map(tuple, out.select("row_key", "ts", "v_f64").collect())
            )

        assert rows(v2) == rows(v3)
        assert len(rows(v3)) == 12
        # and the new layout reads FEWER cells pre-residual than the old
        scanned_old = s.box_scan(
            [s._bucket_of("z", v2), s._bucket_of("z~", v2)],
            [0, 1, 2, 3], version=v2,
        ).count()
        covering_new = list(
            range(s._bucket_of("z", v3), s._bucket_of("z~", v3) + 1)
        )
        scanned_new = s.box_scan(covering_new, [0, 1, 2, 3], version=v3).count()
        assert scanned_new <= scanned_old

    def test_non_ascii_keys_bucket_consistently(self, spark, tmp_path):
        """ADVICE r7 medium: write-side (JVM) and scan-side (Python) key
        images must agree on NON-ASCII keys — both now derive from UTF-8
        bytes, so a range scan bracketing multibyte keys returns them
        all (the old F.ascii image read codepoints > 255 and could prune
        the partition that held them)."""
        from pyspark.sql import functions as F

        from smoltable_spark.sources.store_layout import (
            _key_image_col,
            _key_image_py,
        )

        keys = ["aaa", "kéy", "zzÿ", "日本語キー", "ünïcode", "~end"]
        # 1) the images themselves agree, value by value
        df = spark.createDataFrame([(k,) for k in keys], "row_key string")
        jvm = {
            r["row_key"]: r["img"]
            for r in df.select(
                "row_key", _key_image_col(F.col("row_key")).alias("img")
            ).collect()
        }
        for k in keys:
            assert jvm[k] == _key_image_py(k), k
        # 2) end-to-end: a store of multibyte keys serves exact ranges
        s = self._store(spark, tmp_path)
        s.write(
            _mk_cells(spark, [(k, i, i) for i, k in enumerate(keys)])
        )
        # upper bound must sort above CJK chars — '~' (0x7E) does not
        out = s.key_range_scan("日", "日￿", b_values=[0, 1, 2, 3])
        assert [r["row_key"] for r in out.collect()] == ["日本語キー"]


class TestProgressiveJpeg:
    """Round-7: REAL progressive (SOF2) grayscale decode — spectral
    selection with EOBn band-end runs (T.81 G.1.2.2). The r6 stretch
    item, upgraded from a guard to an implementation."""

    def test_progressive_equals_baseline_decode(self):
        """Both encoders quantize the same forward-DCT coefficients, so
        the progressive stream must decode bit-identically to the
        baseline stream of the same pixels — including non-MCU-aligned
        shapes (edge-block crop)."""
        rng = np.random.RandomState(42)
        for (w, h) in [(16, 16), (20, 12), (37, 29), (8, 8)]:
            px = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
            d_base = M.jpeg_decode(
                M.parse_container(M.jpeg_bytes_pixels(w, h, b"t", px))
            )
            d_prog = M.jpeg_decode(
                M.parse_container(M.jpeg_bytes_progressive(w, h, b"t", px))
            )
            assert np.array_equal(d_base, d_prog), (w, h)
            assert np.abs(d_base.astype(int) - px.astype(int)).max() <= 1

    def test_eobn_batching_roundtrip(self):
        """A constant image makes EVERY block's AC band empty — the
        encoder batches them into EOBn runs (with extension bits for
        runs that are not a power of two), and the decoder must unwind
        them exactly: constant in, constant out (DC roundtrip is exact
        at q=1)."""
        px = np.full((32, 40), 77, dtype=np.uint8)  # 20 blocks, EOBRUN=20
        payload = M.jpeg_bytes_progressive(40, 32, b"t", px)
        info = M.parse_container(payload)
        assert info["sof_marker"] == 0xC2 and len(info["scans"]) == 2
        assert np.array_equal(M.jpeg_decode(info), px)
        # mixed content: EOB runs interleave with real AC blocks
        rng = np.random.RandomState(3)
        px = rng.randint(0, 256, size=(24, 48)).astype(np.uint8)
        px[:, 24:] = 128
        d_prog = M.jpeg_decode(
            M.parse_container(M.jpeg_bytes_progressive(48, 24, b"t", px))
        )
        d_base = M.jpeg_decode(
            M.parse_container(M.jpeg_bytes_pixels(48, 24, b"t", px))
        )
        assert np.array_equal(d_prog, d_base)

    def test_content_roundtrips_through_progressive_com(self):
        """The COM-segment text channel works the same in both frame
        types — extract_features-style parsing must see the content."""
        payload = M.jpeg_bytes_progressive(
            16, 16, b"hello progressive", np.zeros((16, 16), np.uint8)
        )
        assert M.parse_container(payload)["content"] == b"hello progressive"

    def test_successive_approximation_exact_at_every_depth(self):
        """Round 7b: Ah/Al != 0 DECODES — the full successive-
        approximation script (point-transformed first scans + DC/AC
        refinement pairs, T.81 G.1.2.3) must reconstruct the exact
        coefficients at every refinement depth, so the decode equals the
        baseline decode bit-for-bit for al = 1..3."""
        rng = np.random.RandomState(7)
        for al in (1, 2, 3):
            for (w, h) in [(16, 16), (37, 29), (8, 8)]:
                px = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
                base = M.jpeg_decode(
                    M.parse_container(M.jpeg_bytes_pixels(w, h, b"t", px))
                )
                sa = M.jpeg_decode(M.parse_container(
                    M.jpeg_bytes_progressive(w, h, b"t", px, al=al)
                ))
                assert np.array_equal(base, sa), (al, w, h)

    def test_sa_eobn_correction_interplay(self):
        """The G.1.2.3 stress shape: a half-constant image makes the
        refinement scan mix EOBn band-end runs (whose buffered
        correction bits flush after the EOBn symbol) with runs of
        newly-significant coefficients and mid-run correction bits."""
        rng = np.random.RandomState(13)
        px = rng.randint(0, 256, size=(24, 48)).astype(np.uint8)
        px[:, 24:] = 128
        base = M.jpeg_decode(
            M.parse_container(M.jpeg_bytes_pixels(48, 24, b"t", px))
        )
        for al in (1, 2):
            sa = M.jpeg_decode(M.parse_container(
                M.jpeg_bytes_progressive(48, 24, b"t", px, al=al)
            ))
            assert np.array_equal(base, sa), al
        # and the scan count is the full script: 2 + 2 per refinement level
        info = M.parse_container(
            M.jpeg_bytes_progressive(48, 24, b"t", px, al=2)
        )
        assert len(info["scans"]) == 6

    def test_refinement_magnitude_violation_raises(self):
        """A refinement scan symbol with magnitude size > 1 is corrupt
        (G.1.2.3 allows only newly-significant ±1): must raise, never
        mis-accumulate."""
        payload = bytearray(
            M.jpeg_bytes_progressive(
                16, 16, b"t",
                np.arange(256, dtype=np.uint8).reshape(16, 16), al=1
            )
        )
        # find the AC refinement scan (4th SOS) and corrupt its data
        pos = -1
        for _ in range(4):
            pos = payload.find(b"\xff\xda", pos + 1)
        assert pos > 0
        scan_start = pos + 10
        payload[scan_start:scan_start + 4] = b"\x15\x15\x15\x15"
        info = M.parse_container(bytes(payload))
        with pytest.raises(ValueError):
            M.jpeg_decode(info)

    def test_flipped_marker_is_corrupt_not_silent(self):
        """A baseline stream whose SOF marker is flipped to SOF2 is NOT a
        valid progressive stream (its single scan claims Ss=0, Se=63 —
        illegal for a progressive DC scan): decode must raise ValueError,
        never return wrong pixels."""
        payload = bytearray(
            M.jpeg_bytes(16, 16, b"t", M.jpeg_block_values(1, 16, 16))
        )
        i = payload.find(b"\xff\xc0")
        assert i > 0
        payload[i + 1] = 0xC2
        with pytest.raises(ValueError):
            M.jpeg_decode(M.parse_container(bytes(payload)))


class TestCodecBoundaryContracts:
    """VERDICT r6 stretch #8: the documented NotImplementedError
    boundaries are contracts, not comments."""

    def test_non_grayscale_bmp_raises(self):
        """A BMP whose BGR triplets are not gray must be rejected by the
        pixel decode (only grayscale is implemented)."""
        bmp = bytearray(M.bmp_bytes(8, 8, bytes(range(64))))
        bmp[-3] = (bmp[-3] + 1) % 256  # make one triplet non-gray
        info = M.parse_container(bytes(bmp))
        with pytest.raises(NotImplementedError):
            M._decode_pixels(info)

    def test_non_grayscale8_png_raises(self):
        """PNG decode only implements 8-bit grayscale (depth 8, color
        type 0); an RGB color-type header must raise, not mis-decode."""
        png = bytearray(M.png_bytes(8, 8, b"t", bytes(range(64))))
        # IHDR layout: 8-byte sig + 4 len + 4 'IHDR' + 4 w + 4 h + depth + color
        assert png[12:16] == b"IHDR"
        png[25] = 2  # color type 0 (gray) -> 2 (truecolor)
        import struct
        import zlib

        crc = zlib.crc32(bytes(png[12:29])) & 0xFFFFFFFF
        png[29:33] = struct.pack(">I", crc)
        info = M.parse_container(bytes(png))
        with pytest.raises(NotImplementedError):
            M._decode_pixels(info)
