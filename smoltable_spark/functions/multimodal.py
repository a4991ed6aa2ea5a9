"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design (for a 100 TB media corpus):

- media payloads live in an opaque ``binary`` column (``payload``) next to
  typed metadata (``media_type``, ``width``/``height``/``duration_ms`` …) —
  the cells model stores them as a ``bytes``-tagged family, the relational
  model as a plain column;
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` stages: one Python worker per partition, zero-copy
  batches, metadata-only predicates pushed down *before* any payload
  byte moves (Parquet column pruning means a filter on ``media_type``
  never reads ``payload``);
- **container header parsing is REAL**: synthesized payloads are
  structurally valid PNG / JPEG / BMP / WAV containers (correct
  signatures, chunk framing, CRCs, segment markers), and
  ``extract_features`` parses width/height/duration and the embedded
  content back out with pure ``struct``/``zlib`` — no codec libraries
  involved;
- **pixel/sample decode is REAL in pure Python** (rounds 4–5):
  uncompressed 24-bpp BMP pixel arrays, WAV 16-bit PCM samples,
  zlib-compressed grayscale-8 PNG image data (``png_decode`` inflates
  the IDAT stream and undoes all five PNG row filters), AND
  baseline-sequential grayscale JPEG scans (``jpeg_decode``: canonical
  Huffman entropy decode, DQT dequantization, inverse zigzag, numpy
  inverse DCT — the full T.81 baseline pipeline) are decoded with
  ``struct``/``zlib``/numpy — ``mean_luma`` and ``rms_amp`` are
  computed from the actual decoded bytes and oracle-pinned. Round 7
  adds FULL PROGRESSIVE (SOF2) grayscale decode — spectral selection
  with EOBn band-end runs (T.81 G.1.2.2) AND successive approximation
  (DC/AC refinement scans, G.1.2.3) — plus a progressive encoder
  emitting either script for the roundtrip query, which reconstructs
  bit-identical pixels at every refinement depth. Round 8 adds COLOR:
  baseline 3-component YCbCr decode with arbitrary sampling factors
  (4:2:0 / 4:2:2 / 4:4:4 interleaved MCUs, per-component table
  binding, replication chroma upsample, T.871 YCbCr->RGB) plus the
  matching encoders (``jpeg_bytes_color`` / ``jpeg_bytes_color_pixels``).
  Round 8b adds PROGRESSIVE COLOR (SOF2, interleaved DC + per-component
  non-interleaved AC scans, successive approximation, subsampled chroma
  incl. the 4:2:0 fixtures ``mm_color_progressive`` oracle-pins), and
  round 9 closes the last sampling boundary: single-component frames
  decode whatever HiVi byte they declare (an ns=1 scan is
  non-interleaved per T.81 A.2.2, so with one component the sampling
  byte never changes the layout). Round 10 retires every remaining
  decode gate: CMYK/YCCK (ncomp=4 with the Adobe APP14 transform,
  baseline AND progressive), FRACTIONAL chroma ratios via the T.81
  floor-map upsample (Y at H=3 over chroma at H=2), and 12-BIT
  precision (SOF1 extended-sequential + SOF2 progressive, category-15
  DC / size-14 AC tables, uint16 output; every 12-bit fixture —
  grayscale and color, sequential and progressive — carries Pq=1
  16-bit DQT entries so the 16-bit table parse is exercised on each
  path). Round 11 extends 12-bit past grayscale: 3-COMPONENT COLOR
  frames decode at 12 bits through the precision-parametrized pipeline
  (level shift 2^(P-1), clamp 2^P-1, T.871 chroma center 2^(P-1));
  4-component CMYK/YCCK stays 8-bit-only (no documented convention for
  a 12-bit Adobe inverted-channel composite, no observed crawl
  population — the gate raises explicitly). The only remaining
  out-of-scope stream classes are arithmetic coding, hierarchical
  (SOF5-7/13-15) and lossless modes — none observed in web-crawl
  corpora at meaningful rates.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from smoltable_spark.session import materialize

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("container", T.StringType(), True),  # png|jpeg|wav|raw
        T.StructField("width", T.IntegerType(), True),  # parsed from header
        T.StructField("height", T.IntegerType(), True),  # parsed from header
        T.StructField("duration_ms", T.LongType(), True),  # parsed from header
        T.StructField("payload_sha", T.StringType(), True),  # sha of CONTENT
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        # decoded-content features (round-4): real pixel/sample decode
        T.StructField("mean_luma", T.DoubleType(), True),  # bmp only
        T.StructField("rms_amp", T.DoubleType(), True),  # wav PCM only
    ]
)


# ---------------------------------------------------------------------------
# container builders (pure stdlib; structurally valid framing)

def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _png_filter_scanlines(pixels: np.ndarray, width: int, height: int) -> bytes:
    """Serialize a grayscale-8 pixel array into PNG scanlines with REAL
    filter types rotating per row (0=None, 1=Sub, 2=Up) — the decoder has
    to run genuine unfiltering, not just strip a constant byte."""
    px = pixels.reshape(height, width).astype(np.int16)
    out = bytearray()
    for r in range(height):
        ftype = r % 3
        row = px[r]
        if ftype == 1:  # Sub: delta vs left neighbor
            filt = np.diff(row, prepend=np.int16(0)) % 256
        elif ftype == 2 and r > 0:  # Up: delta vs row above
            filt = (row - px[r - 1]) % 256
        else:
            ftype = 0
            filt = row % 256
        out.append(ftype)
        out += filt.astype(np.uint8).tobytes()
    return bytes(out)


def png_bytes(
    width: int, height: int, content: bytes, pixels: bytes | None = None
) -> bytes:
    """REAL minimal PNG (grayscale-8, color type 0): signature +
    IHDR(width, height) + a ``tEXt`` chunk carrying ``content`` (the
    attached document text — real PNG ancillary-chunk framing) + one
    IDAT chunk of genuinely zlib-compressed, per-row-filtered scanlines
    + IEND. Chunk framing and CRCs are real (zlib.crc32) and the image
    data is decodable by any PNG reader; ``pixels`` is one byte per
    pixel in storage order (defaults to zeros)."""
    px = np.frombuffer(
        pixels if pixels is not None else bytes(width * height), dtype=np.uint8
    )
    if px.size != width * height:
        raise ValueError(f"pixels must be {width * height} bytes, got {px.size}")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    idat = zlib.compress(_png_filter_scanlines(px, width, height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"tEXt", b"comment\x00" + content)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def png_decode(idat: bytes, width: int, height: int) -> np.ndarray:
    """REAL PNG image-data decode for grayscale-8: zlib-inflate the IDAT
    stream, then undo per-row filtering (all five PNG filter types —
    None/Sub/Up vectorized with numpy, Average/Paeth per the spec's
    sequential recurrences). Returns the (height, width) uint8 pixel
    array. Pure stdlib+numpy — zlib IS the PNG compression codec."""
    raw = zlib.decompress(idat)
    stride = 1 + width  # filter byte + grayscale-8 row
    if len(raw) != stride * height:
        raise ValueError(
            f"PNG scanline stream is {len(raw)} bytes, want {stride * height}"
        )
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)
    out = np.zeros((height, width), dtype=np.int16)
    for r in range(height):
        ftype = int(rows[r, 0])
        filt = rows[r, 1:].astype(np.int16)
        up = out[r - 1] if r > 0 else np.zeros(width, dtype=np.int16)
        if ftype == 0:
            out[r] = filt
        elif ftype == 1:  # Sub: prefix-sum along the row
            out[r] = np.cumsum(filt.astype(np.int64)) % 256
        elif ftype == 2:  # Up
            out[r] = (filt + up) % 256
        elif ftype == 3:  # Average: left recurrence forces a scalar loop
            left = 0
            for x in range(width):
                left = (int(filt[x]) + (left + int(up[x])) // 2) % 256
                out[r, x] = left
        elif ftype == 4:  # Paeth predictor (sequential by definition)
            left = ul = 0
            for x in range(width):
                a, b, c = left, int(up[x]), ul
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                left = (int(filt[x]) + pred) % 256
                out[r, x] = left
                ul = b
        else:
            raise ValueError(f"unknown PNG filter type {ftype} at row {r}")
    return out.astype(np.uint8)


_JPEG_COM_MAX = 60_000  # segment length field is u16; stay well under

# --- baseline JPEG codec (public ITU-T T.81 spec; round-5, retiring the
# --- last decode stub). Zigzag order and the BITS/HUFFVAL DHT encoding
# --- are straight from the standard; the tables themselves are minimal
# --- custom canonical tables (the spec's Annex-K tables would also work).

#: zigzag scan order: _JPEG_ZIGZAG[k] = raster index of the k-th
#: zigzag-ordered coefficient
_JPEG_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

#: DC table: categories 0..11 as 12 canonical 4-bit codes (0000..1011 —
#: the all-ones code 1111 stays unassigned per the spec's prefix rule).
#: AC table: only EOB (0x00) as the single 1-bit code '0' — the encoder
#: below emits DC-only blocks, but the DECODER handles arbitrary
#: run/size AC symbols and ZRL from whatever DHT the file declares.
_JPEG_DC_BITS = (0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
_JPEG_AC_VALS = (0x00,)


def _huff_canonical(bits: tuple, vals: tuple) -> dict:
    """``symbol -> (code, length)`` from a DHT BITS/HUFFVAL spec (the
    canonical code construction of T.81 Annex C)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return out


class _JpegBitWriter:
    """MSB-first bit packer with 0xFF byte stuffing and 1-padding."""

    def __init__(self):
        self._out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self._out.append(self._acc)
                if self._acc == 0xFF:
                    self._out.append(0x00)
                self._acc = 0
                self._n = 0

    def done(self) -> bytes:
        if self._n:
            self.put((1 << (8 - self._n)) - 1, 8 - self._n)
        return bytes(self._out)


def _jpeg_category(v: int) -> int:
    """DC/AC magnitude category: smallest s with |v| < 2**s."""
    return int(abs(v)).bit_length()


def jpeg_block_values(mid: int, width: int, height: int) -> np.ndarray:
    """Deterministic per-8×8-block luma for media id ``mid``: block
    (bx, by) on the padded MCU grid has every pixel equal to
    ``(mid + by·bw + bx) % 256``. Block-constant content is the
    DC-only case whose DCT round-trip is EXACT with a unit quant table
    (DC = 8·(v−128), IDCT = DC/8 + 128 = v), so the decoded pixels are
    oracle-recomputable in closed form — same discipline as
    ``luma_pixels``/``pcm_samples``."""
    bw, bh = (width + 7) // 8, (height + 7) // 8
    idx = np.arange(bh, dtype=np.int64)[:, None] * bw + np.arange(bw, dtype=np.int64)
    return ((mid + idx) % 256).astype(np.uint8)


def _jpeg_marker_segments(
    width: int,
    height: int,
    content: bytes,
    ac_bits: tuple | None = None,
    ac_vals: tuple | None = None,
    restart_interval: int = 0,
) -> list[bytes]:
    """The marker stream both JPEG builders share: SOI + chunked COM
    segments carrying ``content`` + (for scan-bearing frames) unit DQT +
    SOF0 (8-bit, one component, 1×1 sampling) + DHT (canonical DC table
    plus the given AC table) + optional DRI + SOS. With ``ac_bits=None``
    only SOI + COM + SOF0 are emitted (the header-only container — the
    caller appends EOI). The caller appends the entropy-coded scan."""
    sof0 = struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    out = [b"\xff\xd8"]
    for off in range(0, max(len(content), 1), _JPEG_COM_MAX):
        chunk = content[off : off + _JPEG_COM_MAX]
        out += [b"\xff\xfe", struct.pack(">H", 2 + len(chunk)), chunk]
    if ac_bits is None or ac_vals is None:
        out += [b"\xff\xc0", struct.pack(">H", 2 + len(sof0)), sof0]
        return out
    dqt = b"\x00" + bytes([1] * 64)
    dht = (
        b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
        + b"\x10" + bytes(ac_bits) + bytes(ac_vals)
    )
    sos = b"\x01\x01\x00\x00\x3f\x00"
    out += [
        b"\xff\xdb", struct.pack(">H", 2 + len(dqt)), dqt,
        b"\xff\xc0", struct.pack(">H", 2 + len(sof0)), sof0,
        b"\xff\xc4", struct.pack(">H", 2 + len(dht)), dht,
    ]
    if restart_interval:
        out += [b"\xff\xdd", struct.pack(">HH", 4, restart_interval)]
    out += [b"\xff\xda", struct.pack(">H", 2 + len(sos)), sos]
    return out


def jpeg_bytes(
    width: int, height: int, content: bytes, block_vals: np.ndarray | None = None
) -> bytes:
    """Baseline-sequential JPEG (ITU-T T.81): SOI + COM segments carrying
    ``content`` + DQT (unit 8-bit table) + SOF0 (8-bit, one component,
    1×1 sampling) + DHT (canonical DC/AC tables) + SOS + a REAL
    entropy-coded scan of ``block_vals`` (one constant luma per 8×8
    block, difference-coded DC + EOB, 0xFF byte-stuffed) + EOI — every
    marker, length field, and Huffman bit a standard decoder checks.
    With ``block_vals=None`` the scan-bearing segments are omitted
    (header-only container, the pre-round-5 shape kept for tests)."""
    if block_vals is None:
        return b"".join(
            _jpeg_marker_segments(width, height, content) + [b"\xff\xd9"]
        )
    out = _jpeg_marker_segments(
        width, height, content, _JPEG_AC_BITS, _JPEG_AC_VALS
    )
    dc_codes = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _JpegBitWriter()
    pred = 0
    for v in block_vals.astype(np.int64).ravel():
        dc = 8 * (int(v) - 128)  # unit quant table: quantized == raw DC
        diff = dc - pred
        pred = dc
        s = _jpeg_category(diff)
        code, length = dc_codes[s]
        w.put(code, length)
        if s:
            w.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        code, length = ac_codes[0x00]  # EOB: all 63 AC coefficients zero
        w.put(code, length)
    out += [w.done(), b"\xff\xd9"]
    return b"".join(out)


#: DC table for 12-BIT frames: categories reach 15 (T.81 F.1.2.1.1 —
#: a 12-bit DC diff spans ±32767), so the 8-bit table's 0..11 set is
#: insufficient; 16 canonical 5-bit codes cover 0..15 with the all-ones
#: code unassigned per the prefix rule
_JPEG_DC12_BITS = (0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC12_VALS = tuple(range(16))


def jpeg_bytes_12bit(
    width: int, height: int, content: bytes, block_vals: np.ndarray
) -> bytes:
    """EXTENDED-SEQUENTIAL 12-bit grayscale JPEG (round 10, retiring the
    precision boundary): SOF1 frame (T.81 B.2 — baseline SOF0 is
    8-bit-only) with precision 12, a Pq=1 16-bit-entry unit DQT
    (exercising the 16-bit table parse), a DC Huffman table whose
    categories reach 15, and a DC-only scan of per-block constants in
    0..4095 (level shift 2048 under unit quant: exact round-trip).
    Medical imagery and DSLR intermediates ship this shape."""
    if block_vals.min() < 0 or block_vals.max() > 4095:
        raise ValueError("12-bit block values must be in 0..4095")
    out = [b"\xff\xd8"]
    for off in range(0, max(len(content), 1), _JPEG_COM_MAX):
        chunk = content[off : off + _JPEG_COM_MAX]
        out += [b"\xff\xfe", struct.pack(">H", 2 + len(chunk)), chunk]
    dqt = b"\x10" + struct.pack(">64H", *([1] * 64))  # Pq=1, Tq=0, unit
    sof = struct.pack(">BHHB", 12, height, width, 1) + bytes([1, 0x11, 0])
    dht = (
        b"\x00" + bytes(_JPEG_DC12_BITS) + bytes(_JPEG_DC12_VALS)
        + b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    sos = b"\x01" + bytes([1, 0x00]) + b"\x00\x3f\x00"
    out += [
        b"\xff\xdb", struct.pack(">H", 2 + len(dqt)), dqt,
        b"\xff\xc1", struct.pack(">H", 2 + len(sof)), sof,
        b"\xff\xc4", struct.pack(">H", 2 + len(dht)), dht,
        b"\xff\xda", struct.pack(">H", 2 + len(sos)), sos,
    ]
    dc_codes = _huff_canonical(_JPEG_DC12_BITS, _JPEG_DC12_VALS)
    ac_codes = _huff_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _JpegBitWriter()
    pred = 0
    for v in block_vals.astype(np.int64).ravel():
        dc = 8 * (int(v) - 2048)  # unit quant: quantized == raw DC
        diff = dc - pred
        pred = dc
        s = _jpeg_category(diff)
        code, length = dc_codes[s]
        w.put(code, length)
        if s:
            w.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        code, length = ac_codes[0x00]  # EOB
        w.put(code, length)
    out += [w.done(), b"\xff\xd9"]
    return b"".join(out)


#: full AC table for arbitrary-pixel encoding: EOB + ZRL + every
#: (run 0-15, size 1-10) symbol as canonical 8-bit codes (162 of 256
#: slots used; the all-ones code stays unassigned per the prefix rule)
_JPEG_AC_FULL_VALS = tuple(
    [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_JPEG_AC_FULL_BITS = tuple(
    len(_JPEG_AC_FULL_VALS) if i == 7 else 0 for i in range(16)
)


def jpeg_bytes_pixels(
    width: int,
    height: int,
    content: bytes,
    pixels: bytes | np.ndarray,
    restart_interval: int = 0,
) -> bytes:
    """Baseline-sequential JPEG of an ARBITRARY grayscale-8 pixel array
    (round-5, backing the real ``resize_media``): real forward DCT per
    8×8 block (edge blocks replicate the last row/column so partial MCUs
    don't ring), unit quant table, zigzag run-length AC coding
    (ZRL + EOB) with the full 162-symbol AC Huffman table, plus COM
    segments carrying ``content``. With q=1 the only loss is coefficient
    rounding: decode error is ≤ ±1 per pixel (pinned by the property
    tests). ``pixels`` is one byte per pixel in storage order.
    ``restart_interval`` > 0 emits a DRI segment and an RSTm marker
    every that many MCUs (byte-aligned, DC predictor reset — the
    error-resilience framing real encoders emit, exercising the
    decoder's restart path end to end)."""
    px = np.frombuffer(
        pixels if isinstance(pixels, (bytes, bytearray)) else
        np.ascontiguousarray(pixels, dtype=np.uint8).tobytes(),
        dtype=np.uint8,
    )
    if px.size != width * height:
        raise ValueError(f"pixels must be {width * height} bytes, got {px.size}")
    bw, bh = (width + 7) // 8, (height + 7) // 8
    padded = np.zeros((bh * 8, bw * 8), dtype=np.float64)
    padded[:height, :width] = px.reshape(height, width)
    if width < bw * 8:  # replicate edges into the MCU padding
        padded[:height, width:] = padded[:height, width - 1 : width]
    if height < bh * 8:
        padded[height:, :] = padded[height - 1 : height, :]
    dc_codes = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_canonical(_JPEG_AC_FULL_BITS, _JPEG_AC_FULL_VALS)
    C = _IDCT_C
    wr = _JpegBitWriter()
    pred = 0
    scan_chunks: list[bytes] = []
    rst = 0
    for blk in range(bw * bh):
        if restart_interval and blk and blk % restart_interval == 0:
            scan_chunks.append(wr.done())  # byte-align (1-padded)
            scan_chunks.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) % 8
            wr = _JpegBitWriter()
            pred = 0  # DC predictor resets at each restart
        by, bx = divmod(blk, bw)
        s_blk = padded[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] - 128.0
        S = C @ s_blk @ C.T  # forward DCT (C orthogonal: inverse is Cᵀ·S·C)
        zz = np.round(S.ravel()[_JPEG_ZIGZAG]).astype(np.int64)
        diff = int(zz[0]) - pred
        pred = int(zz[0])
        s = _jpeg_category(diff)
        code, length = dc_codes[s]
        wr.put(code, length)
        if s:
            wr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run >= 16:
                c, ln = ac_codes[0xF0]
                wr.put(c, ln)
                run -= 16
            s = _jpeg_category(v)
            c, ln = ac_codes[(run << 4) | s]
            wr.put(c, ln)
            wr.put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            c, ln = ac_codes[0x00]
            wr.put(c, ln)
    scan_chunks.append(wr.done())
    out = _jpeg_marker_segments(
        width, height, content,
        _JPEG_AC_FULL_BITS, _JPEG_AC_FULL_VALS, restart_interval,
    )
    out += [b"".join(scan_chunks), b"\xff\xd9"]
    return b"".join(out)


#: progressive AC table: the sequential run/size symbols PLUS the EOBn
#: band-end symbols (r<<4, r 0-14: "the next 2^r-1+ext blocks end here",
#: T.81 G.1.2.2) — 176 symbols, all canonical 8-bit codes (≤255 at one
#: length keeps the all-ones prefix free)
_JPEG_AC_PROG_VALS = tuple(
    [r << 4 for r in range(15)] + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_JPEG_AC_PROG_BITS = tuple(
    len(_JPEG_AC_PROG_VALS) if i == 7 else 0 for i in range(16)
)

#: progressive AC table for 12-BIT frames: coefficient size categories
#: reach 14 (T.81 F.1.2.2.1), so the 8-bit table's 1..10 set is
#: insufficient; 15 EOBn + ZRL + 16x14 run/size symbols = 240 canonical
#: 8-bit codes (<= 255 usable, all-ones unassigned)
_JPEG_AC_PROG12_VALS = tuple(
    [r << 4 for r in range(15)] + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 15)]
)
_JPEG_AC_PROG12_BITS = tuple(
    len(_JPEG_AC_PROG12_VALS) if i == 7 else 0 for i in range(16)
)


def _pad_plane(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Edge-replicate ``plane`` into a (ph, pw) float array so partial
    MCUs don't ring (the padding recipe every encoder here shares)."""
    plane = np.asarray(plane, dtype=np.float64)
    out = np.zeros((ph, pw))
    h0, w0 = plane.shape
    out[:h0, :w0] = plane
    if w0 < pw:
        out[:h0, w0:] = out[:h0, w0 - 1 : w0]
    if h0 < ph:
        out[h0:, :] = out[h0 - 1 : h0, :]
    return out


def _fdct_coefs(padded: np.ndarray, level_shift: float = 128.0) -> np.ndarray:
    """(bh, bw, 64) rounded zigzag-ordered forward-DCT coefficients of a
    block-aligned padded plane (unit quant table); ``level_shift`` is
    2^(P-1) per the frame precision (T.81 A.3.1)."""
    bh, bw = padded.shape[0] // 8, padded.shape[1] // 8
    out = np.zeros((bh, bw, 64), dtype=np.int64)
    for by in range(bh):
        for bx in range(bw):
            blk = padded[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] - level_shift
            S = _IDCT_C @ blk @ _IDCT_C.T
            out[by, bx] = np.round(S.ravel()[_JPEG_ZIGZAG]).astype(np.int64)
    return out


def _emit_ac_first(views: list, ac_codes: dict, a: int) -> bytes:
    """Progressive AC FIRST scan (band 1..63 at point transform ``a``)
    over ``views`` — (64,) zigzag coefficient rows in data-unit order —
    with EOBn band-end run batching (T.81 G.1.2.2). Shared by the
    grayscale and color progressive encoders: the coding is order-
    agnostic, only the data-unit sequence differs."""
    w = _JpegBitWriter()
    eobrun = 0

    def flush_eobrun():
        nonlocal eobrun
        if not eobrun:
            return
        r = eobrun.bit_length() - 1
        code, length = ac_codes[r << 4]
        w.put(code, length)
        if r:
            w.put(eobrun - (1 << r), r)
        eobrun = 0

    for zz in views:
        vals = [
            (abs(int(zz[k])) >> a) * (1 if int(zz[k]) >= 0 else -1)
            for k in range(1, 64)
        ]
        nz = [i for i, v in enumerate(vals) if v]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:  # EOBRUN caps at 2^15-1
                flush_eobrun()
            continue
        flush_eobrun()
        run = 0
        last = nz[-1] + 1
        for k in range(1, last + 1):
            v = vals[k - 1]
            if v == 0:
                run += 1
                continue
            while run >= 16:
                code, length = ac_codes[0xF0]
                w.put(code, length)
                run -= 16
            s = _jpeg_category(v)
            code, length = ac_codes[(run << 4) | s]
            w.put(code, length)
            w.put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last < 63:
            eobrun += 1  # the block's own band end joins the run
    flush_eobrun()
    return w.done()


def _emit_ac_refine(views: list, ac_codes: dict, a: int) -> bytes:
    """Progressive AC REFINEMENT scan (Ah=a+1, Al=a) over ``views`` in
    data-unit order, per T.81 G.1.2.3: newly-significant coefficients
    (|v|>>a == 1) run-coded over INSIGNIFICANT positions only;
    already-significant ones contribute one correction bit each (bit a
    of |v|), buffered and flushed after the next symbol; whole-band
    ends batch into EOBn runs whose buffered correction bits follow
    the EOBn code."""
    w = _JpegBitWriter()
    eobrun = 0
    be: list[int] = []  # correction bits pending across EOB blocks

    def flush_eobrun():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, length = ac_codes[r << 4]
            w.put(code, length)
            if r:
                w.put(eobrun - (1 << r), r)
            eobrun = 0
        for b in be:
            w.put(b, 1)
        be.clear()

    for zz in views:
        absval = [abs(int(zz[k])) >> a for k in range(1, 64)]
        eob = 0  # 1 past the last newly-significant coefficient
        for i, t in enumerate(absval):
            if t == 1:
                eob = i + 1
        r = 0
        br: list[int] = []  # this block's pending correction bits
        for k in range(1, 64):
            t = absval[k - 1]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                flush_eobrun()
                code, length = ac_codes[0xF0]
                w.put(code, length)
                r -= 16
                for b in br:
                    w.put(b, 1)
                br = []
            if t > 1:  # already significant: one correction bit
                br.append(t & 1)
                continue
            flush_eobrun()
            code, length = ac_codes[(r << 4) | 1]
            w.put(code, length)
            w.put(1 if int(zz[k]) >= 0 else 0, 1)
            for b in br:
                w.put(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            be.extend(br)
            if eobrun == 0x7FFF:
                flush_eobrun()
    flush_eobrun()
    return w.done()


def jpeg_bytes_progressive(
    width: int,
    height: int,
    content: bytes,
    pixels: bytes | np.ndarray,
    al: int = 0,
    precision: int = 8,
) -> bytes:
    """PROGRESSIVE (SOF2) grayscale JPEG. With ``al=0`` (default): the
    two-scan spectral-selection script — scan 1 carries every block's DC
    coefficient (Ss=Se=0), scan 2 the full AC band (Ss=1, Se=63), both
    at full precision. With ``al>0``: the full SUCCESSIVE-APPROXIMATION
    script (round 7b, T.81 G.1.2.3) — first scans carry the point-
    transformed coefficients (DC arithmetic-shifted, AC magnitude-
    shifted by ``al``), then one refinement scan pair per precision
    level (Ah=a, Al=a−1 for a = al..1): DC refinement is one raw bit
    per block; AC refinement interleaves newly-significant ±1·2^Al
    coefficients (run-coded over INSIGNIFICANT positions only) with
    correction bits for already-significant ones, batching band ends
    into EOBn runs whose buffered correction bits flush after the EOBn
    symbol — the hardest coding mode in T.81. AC scans use real EOBn
    band-end run coding throughout. All scans together reconstruct the
    exact rounded forward-DCT coefficients ``jpeg_bytes_pixels``
    produces, so decoding this stream yields bit-identical pixels to
    decoding the baseline encoding of the same input, at every ``al``.

    ``precision=12`` emits the extended 12-bit variant (round 10):
    pixels in 0..4095 (uint16 array input), level shift 2048, the
    category-15 DC table and the size-14 progressive AC table — T.81
    allows 12-bit progressive, and the decoder's coefficient machinery
    is precision-agnostic once the tables and shift generalize."""
    if precision == 8:
        px = np.frombuffer(
            pixels if isinstance(pixels, (bytes, bytearray)) else
            np.ascontiguousarray(pixels, dtype=np.uint8).tobytes(),
            dtype=np.uint8,
        )
    elif precision == 12:
        px = np.ascontiguousarray(pixels, dtype=np.uint16).ravel()
        if px.size and int(px.max()) > 4095:
            raise ValueError("12-bit pixels must be in 0..4095")
    else:
        raise ValueError(f"precision must be 8 or 12, got {precision}")
    if px.size != width * height:
        raise ValueError(f"pixels must be {width * height} samples, got {px.size}")
    shift = float(1 << (precision - 1))
    bw, bh = (width + 7) // 8, (height + 7) // 8
    padded = np.zeros((bh * 8, bw * 8), dtype=np.float64)
    padded[:height, :width] = px.reshape(height, width)
    if width < bw * 8:
        padded[:height, width:] = padded[:height, width - 1 : width]
    if height < bh * 8:
        padded[height:, :] = padded[height - 1 : height, :]
    C = _IDCT_C
    coefs = np.zeros((bw * bh, 64), dtype=np.int64)  # zigzag order
    for blk in range(bw * bh):
        by, bx = divmod(blk, bw)
        s_blk = padded[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] - shift
        S = C @ s_blk @ C.T
        coefs[blk] = np.round(S.ravel()[_JPEG_ZIGZAG]).astype(np.int64)

    if precision == 12:
        dc_spec = (_JPEG_DC12_BITS, _JPEG_DC12_VALS)
        ac_spec = (_JPEG_AC_PROG12_BITS, _JPEG_AC_PROG12_VALS)
    else:
        dc_spec = (_JPEG_DC_BITS, _JPEG_DC_VALS)
        ac_spec = (_JPEG_AC_PROG_BITS, _JPEG_AC_PROG_VALS)
    dc_codes = _huff_canonical(*dc_spec)
    ac_codes = _huff_canonical(*ac_spec)
    nblk = bw * bh

    def _dc_first_scan(a: int) -> bytes:
        """DC band at point transform a: diffs of (DC >> a), arithmetic
        shift (T.81 G.1.2.1 / libjpeg convention), sequential DC coding."""
        w = _JpegBitWriter()
        pred = 0
        for blk in range(nblk):
            cur = int(coefs[blk, 0]) >> a
            diff = cur - pred
            pred = cur
            s = _jpeg_category(diff)
            code, length = dc_codes[s]
            w.put(code, length)
            if s:
                w.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        return w.done()

    def _dc_refine_scan(a: int) -> bytes:
        """DC refinement (Ah=a+1, Al=a): one raw bit per block —
        bit a of the (two's-complement) DC value."""
        w = _JpegBitWriter()
        for blk in range(nblk):
            w.put((int(coefs[blk, 0]) >> a) & 1, 1)
        return w.done()

    def _ac_first_scan(a: int) -> bytes:
        return _emit_ac_first(list(coefs), ac_codes, a)

    def _ac_refine_scan(a: int) -> bytes:
        return _emit_ac_refine(list(coefs), ac_codes, a)

    def _sos(ss: int, se: int, ah: int, a: int) -> list[bytes]:
        return [
            b"\xff\xda", struct.pack(">H", 8),
            bytes([1, 1, 0, ss, se, (ah << 4) | a]),
        ]

    sof2 = struct.pack(">BHHB", precision, height, width, 1) + b"\x01\x11\x00"
    # ADVICE r10: the 12-bit progressive fixture must exercise the Pq=1
    # 16-bit DQT parse too, matching the SOF1 fixture's claim
    if precision == 12:
        dqt = b"\x10" + struct.pack(">64H", *([1] * 64))
    else:
        dqt = b"\x00" + bytes([1] * 64)
    dht = (
        b"\x00" + bytes(dc_spec[0]) + bytes(dc_spec[1])
        + b"\x10" + bytes(ac_spec[0]) + bytes(ac_spec[1])
    )
    out = [b"\xff\xd8"]
    for off in range(0, max(len(content), 1), _JPEG_COM_MAX):
        chunk = content[off : off + _JPEG_COM_MAX]
        out += [b"\xff\xfe", struct.pack(">H", 2 + len(chunk)), chunk]
    out += [
        b"\xff\xdb", struct.pack(">H", 2 + len(dqt)), dqt,
        b"\xff\xc2", struct.pack(">H", 2 + len(sof2)), sof2,
        b"\xff\xc4", struct.pack(">H", 2 + len(dht)), dht,
    ]
    out += _sos(0, 0, 0, al) + [_dc_first_scan(al)]
    out += _sos(1, 63, 0, al) + [_ac_first_scan(al)]
    for a in range(al, 0, -1):  # refinement pairs, coarse -> fine
        out += _sos(0, 0, a, a - 1) + [_dc_refine_scan(a - 1)]
        out += _sos(1, 63, a, a - 1) + [_ac_refine_scan(a - 1)]
    out.append(b"\xff\xd9")
    return b"".join(out)


def _huff_decode_table(bits: tuple, vals: tuple) -> dict:
    """``(length, code) -> symbol`` from a DHT BITS/HUFFVAL spec."""
    return {(length, code): sym
            for sym, (code, length) in _huff_canonical(bits, vals).items()}


def _jpeg_extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the s received magnitude bits to the
    signed coefficient value."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _idct_basis() -> np.ndarray:
    """8×8 DCT-III basis C with C[u, x] = ½·c(u)·cos((2x+1)uπ/16),
    c(0)=1/√2: the 2-D inverse DCT of T.81 A.3.3 is ``Cᵀ @ S @ C``."""
    C = np.zeros((8, 8))
    for u in range(8):
        cu = 1.0 / math.sqrt(2.0) if u == 0 else 1.0
        for x in range(8):
            C[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
    return C


_IDCT_C = _idct_basis()


class _JpegBitReader:
    """MSB-first bit cursor over a destuffed scan segment; reads past the
    end return 1-bits (the padding convention), mirroring the inline
    cursor in the baseline decoder."""

    def __init__(self, seg: bytes):
        self._bits = np.unpackbits(np.frombuffer(seg, dtype=np.uint8)).tolist()
        self._n = len(self._bits)
        self._pos = 0

    def bit(self) -> int:
        b = self._bits[self._pos] if self._pos < self._n else 1
        self._pos += 1
        return b

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict, what: str) -> int:
        code = 0
        length = 0
        while True:
            code = (code << 1) | self.bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
            if length >= 16:
                raise ValueError(f"invalid Huffman code in JPEG {what} scan")


def _decode_dc_scan(entries, dc_tabs, segments, dri_units, ah, al) -> None:
    """One progressive DC scan (T.81 G.1.2.1) over ``entries`` =
    [(comp_key, zz_view)] in scan order, where ``zz_view`` is the
    block's 64-slot zigzag coefficient view (mutated in place). First
    scans (Ah=0) difference-code the point-transformed DC per component
    predictor; refinements deposit one raw bit at position Al. A
    restart boundary every ``dri_units`` entries switches to the next
    entropy segment and resets all predictors. Shared by the grayscale
    (single component, unit MCUs) and color (interleaved or
    single-component scans) progressive decoders — the two paths differ
    only in how they enumerate ``entries``."""
    rd = _JpegBitReader(segments[0])
    seg_idx = 0
    if ah == 0:
        preds = {c: 0 for c in dc_tabs}
        for i, (cid, zz) in enumerate(entries):
            if dri_units and i and i % dri_units == 0:
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("JPEG scan missing a restart segment")
                rd = _JpegBitReader(segments[seg_idx])
                preds = {c: 0 for c in preds}
            s = rd.huff(dc_tabs[cid], "DC")
            if s:
                preds[cid] += _jpeg_extend(rd.bits(s), s)
            zz[0] = preds[cid] << al
    else:
        # DC refinement: one raw bit per block sets bit Al of the
        # (two's-complement) DC value
        for i, (_cid, zz) in enumerate(entries):
            if dri_units and i and i % dri_units == 0:
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("JPEG scan missing a restart segment")
                rd = _JpegBitReader(segments[seg_idx])
            if rd.bit():
                zz[0] |= 1 << al


def _decode_ac_scan(views, ac_tab, segments, dri, ss, se, ah, al) -> None:
    """One progressive AC scan over ``views`` = per-block zigzag
    coefficient views in the component's non-interleaved order
    (T.81 A.2.2; AC scans are always single-component). Ah=0: run/size
    coding with EOBn band-end runs, values landing at magnitude << Al
    (G.1.2.2). Ah>0: refinement — newly-significant ±2^Al values
    run-coded over insignificant positions; every significant position
    passed (or swept after a band end) consumes one correction bit that
    may add ±2^Al toward its magnitude (G.1.2.3). Restart boundaries
    every ``dri`` data units reset the EOB run. Shared by the grayscale
    and color progressive decoders."""
    rd = _JpegBitReader(segments[0])
    seg_idx = 0
    eobrun = 0
    if ah == 0:
        for i, zz in enumerate(views):
            if dri and i and i % dri == 0:
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("JPEG scan missing a restart segment")
                rd = _JpegBitReader(segments[seg_idx])
                eobrun = 0
            if eobrun:
                eobrun -= 1  # whole band already declared zero
                continue
            k = ss
            while k <= se:
                sym = rd.huff(ac_tab, "AC")
                r, s = sym >> 4, sym & 0xF
                if s == 0:
                    if r == 15:  # ZRL: 16 zero coefficients
                        k += 16
                        continue
                    # EOBn: this band ends; (2^r - 1 + ext) more do too
                    eobrun = (1 << r) - 1 + (rd.bits(r) if r else 0)
                    break
                k += r
                if k > se:
                    raise ValueError("AC run past band end in JPEG scan")
                zz[k] = _jpeg_extend(rd.bits(s), s) << al
                k += 1
        return
    p1, m1 = 1 << al, -1 << al

    def _correct(zz: np.ndarray, k: int) -> None:
        if rd.bit() and not (int(zz[k]) & p1):
            zz[k] += p1 if zz[k] >= 0 else m1

    for i, zz in enumerate(views):
        if dri and i and i % dri == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG scan missing a restart segment")
            rd = _JpegBitReader(segments[seg_idx])
            eobrun = 0
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = rd.huff(ac_tab, "AC")
                r, s = sym >> 4, sym & 0xF
                if s == 0:
                    if r != 15:
                        eobrun = (1 << r) + (rd.bits(r) if r else 0)
                        break
                    newval = 0  # ZRL: skip 16 insignificant slots
                elif s == 1:
                    newval = p1 if rd.bit() else m1
                else:
                    raise ValueError("refinement scan magnitude must be 1")
                while k <= se:
                    if zz[k] != 0:
                        _correct(zz, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval and k <= se:
                    zz[k] = newval
                k += 1
        if eobrun > 0:
            # band end: sweep remaining significant positions for
            # their correction bits, then consume one EOB
            while k <= se:
                if zz[k] != 0:
                    _correct(zz, k)
                k += 1
            eobrun -= 1


def _jpeg_decode_progressive(info: dict) -> np.ndarray:
    """PROGRESSIVE (SOF2) grayscale decode — spectral selection AND
    successive approximation: every scan deposits its coefficient band
    into a shared per-block coefficient store (first DC scans
    difference-coded like sequential, shifted by Al; DC refinements one
    raw bit per block; first AC scans with the EOBn band-end run coding
    of T.81 G.1.2.2; AC refinements per G.1.2.3 — newly-significant
    ±2^Al values run-coded over insignificant positions, correction
    bits for significant ones, band-end sweeps under EOB runs), then
    one dequantize + inverse-zigzag + IDCT pass renders the accumulated
    coefficients. Restart intervals reset the DC predictor / EOB run
    per segment, as in the baseline path."""
    _cid, hv, tq = info["sof_comps"][0]
    # HiVi is layout-irrelevant for a single-component frame (closing the
    # r8 codec boundary): every scan of a one-component frame is
    # NON-interleaved (T.81 A.2.2), its data-unit grid is the component's
    # own ceil(w*Hi/(8*Hmax)) x ceil(h*Vi/(8*Vmax)) — and with ncomp=1,
    # Hi=Hmax and Vi=Vmax by definition, so the grid is ceil(w/8) x
    # ceil(h/8) whatever sampling byte the encoder declared (files with
    # grayscale HiVi=0x22 exist in the wild). Only validity is checked.
    if not (1 <= hv >> 4 <= 4 and 1 <= (hv & 0xF) <= 4):
        raise ValueError(f"invalid sampling factors HiVi={hv:#x}")
    w, h = info["width"], info["height"]
    bw, bh = (w + 7) // 8, (h + 7) // 8
    nblk = bw * bh
    coefs = np.zeros((nblk, 64), dtype=np.int64)  # zigzag order
    if not info.get("scans"):
        raise ValueError("progressive JPEG without any scan")
    for scan in info["scans"]:
        sos = scan["sos"]
        ss, se = sos["ss"], sos["se"]
        ah, al = sos["ahal"] >> 4, sos["ahal"] & 0xF
        _scid, td, ta = sos["comps"][0]
        segments = scan["segments"] or [b""]
        dri = int(scan.get("dri") or 0)
        if len(segments) > 1 and dri == 0:
            raise ValueError("JPEG restart markers present without DRI")
        if ss == 0:
            if se != 0:
                raise ValueError(
                    "progressive DC scan must carry the DC band alone "
                    "(Ss=0 requires Se=0)"
                )
            _decode_dc_scan(
                [(0, coefs[blk]) for blk in range(nblk)],
                {0: _huff_decode_table(*scan["dht"][(0, td)])}
                if ah == 0 else {},
                segments, dri, ah, al,
            )
        else:
            _decode_ac_scan(
                [coefs[blk] for blk in range(nblk)],
                _huff_decode_table(*scan["dht"][(1, ta)]),
                segments, dri, ss, se, ah, al,
            )
    qt = info["dqt"][tq]
    precision = int(info.get("precision") or 8)
    shift = 1 << (precision - 1)
    maxv = (1 << precision) - 1
    out_dtype = np.uint8 if precision == 8 else np.uint16
    out = np.zeros((bh * 8, bw * 8), dtype=out_dtype)
    for blk in range(nblk):
        by, bx = divmod(blk, bw)
        coef = np.zeros(64, dtype=np.float64)
        coef[_JPEG_ZIGZAG] = coefs[blk] * qt
        block = _IDCT_C.T @ coef.reshape(8, 8) @ _IDCT_C
        out[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] = np.clip(
            np.round(block) + shift, 0, maxv
        ).astype(out_dtype)
    return out[:h, :w]


def jpeg_decode(info: dict) -> np.ndarray:
    """REAL baseline-sequential JPEG decode (ITU-T T.81) for a
    single-component 8-bit grayscale frame, from a ``parse_container``
    result: canonical-Huffman entropy decode of the destuffed scan
    (DC difference coding + run/size AC symbols incl. ZRL/EOB), DQT
    dequantization, inverse zigzag, 2-D inverse DCT (numpy separable
    matrix form), level shift, clip, and crop from the padded MCU grid
    to (height, width) — including DRI restart intervals (the scan's
    byte-aligned RST segments decode independently with the DC
    predictor reset at each restart, T.81 E.2.4). Pure numpy — no codec
    library. PROGRESSIVE (SOF2) frames route to
    ``_jpeg_decode_progressive`` (round 7: spectral selection with EOBn
    band-end runs AND full successive approximation — DC/AC refinement
    scans per T.81 G.1.2.3). Multi-component (color) frames decode via
    ``jpeg_decode_color`` (round 8), which this grayscale entry point
    points at rather than silently returning one channel."""
    if info.get("scan") is None or info.get("sos") is None:
        raise ValueError("JPEG without an entropy-coded scan")
    if info.get("precision") not in (8, 12) or info.get("ncomp") != 1:
        raise NotImplementedError(
            f"jpeg_decode is the grayscale path — use jpeg_decode_color "
            f"for multi-component frames "
            f"(precision={info.get('precision')}, ncomp={info.get('ncomp')})"
        )
    precision = int(info["precision"])
    if info.get("sof_marker") == 0xC2:
        # the progressive coefficient machinery is precision-agnostic;
        # its renderer applies the 2^(P-1) shift / 2^P-1 clamp (round 10)
        return _jpeg_decode_progressive(info)
    # 12-bit frames arrive as SOF1 (extended sequential, T.81 B.2 —
    # baseline SOF0 is 8-bit-only); the scan machinery is identical,
    # only the level shift (2^(P-1)), clamp ceiling (2^P - 1) and the
    # output dtype change. DC categories reach 15 instead of 11.
    shift = 1 << (precision - 1)
    maxv = (1 << precision) - 1
    out_dtype = np.uint8 if precision == 8 else np.uint16
    sos = info["sos"]
    if sos["ss"] != 0 or sos["se"] != 63 or sos["ahal"] != 0:
        raise NotImplementedError("non-sequential spectral selection")
    _cid, hv, tq = info["sof_comps"][0]
    # HiVi is layout-irrelevant for a single-component frame: an ns=1
    # scan is non-interleaved (T.81 A.2.2) and with ncomp=1 Hi=Hmax, so
    # the grid is ceil(w/8) x ceil(h/8) and DRI counts data units
    # whatever sampling byte was declared (see _jpeg_decode_progressive)
    if not (1 <= hv >> 4 <= 4 and 1 <= (hv & 0xF) <= 4):
        raise ValueError(f"invalid sampling factors HiVi={hv:#x}")
    qt = info["dqt"][tq]  # zigzag order, as stored in the DQT segment
    _scid, td, ta = sos["comps"][0]
    dc_tab = _huff_decode_table(*info["dht"][(0, td)])
    ac_tab = _huff_decode_table(*info["dht"][(1, ta)])

    w, h = info["width"], info["height"]
    bw, bh = (w + 7) // 8, (h + 7) // 8
    out = np.zeros((bh * 8, bw * 8), dtype=out_dtype)
    # restart intervals (T.81 E.2.4): the scan splits into byte-aligned
    # segments at RST markers; the DC predictor resets at each restart.
    # With 1x1 sampling and one component, 1 MCU = 1 block.
    segments = info.get("scan_segments") or [info["scan"]]
    dri = int(info.get("dri") or 0)
    if len(segments) > 1 and dri == 0:
        raise ValueError("JPEG restart markers present without a DRI segment")

    def _seg_bits(seg: bytes) -> list:
        return np.unpackbits(np.frombuffer(seg, dtype=np.uint8)).tolist()

    # MSB-first bit cursor over the destuffed scan; reads past the end
    # return 1-bits (the spec's byte-padding convention). A flat Python
    # list + inline cursor is ~4x faster than a per-bit method call —
    # this runs per image inside the Arrow batch, so it is the hot loop.
    seg_idx = 0
    bits_arr = _seg_bits(segments[0])
    n_bits = len(bits_arr)
    pos = 0
    qt0 = int(qt[0])
    pred = 0
    for blk in range(bw * bh):
        if dri and blk and blk % dri == 0:  # restart boundary
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG scan missing a restart segment")
            bits_arr = _seg_bits(segments[seg_idx])
            n_bits = len(bits_arr)
            pos = 0
            pred = 0
        # DC: canonical Huffman walk + EXTEND of the category bits
        code = 0
        length = 0
        while True:
            code = (code << 1) | (bits_arr[pos] if pos < n_bits else 1)
            pos += 1
            length += 1
            s = dc_tab.get((length, code))
            if s is not None:
                break
            if length >= 16:
                raise ValueError("invalid Huffman code in JPEG scan")
        if s:
            v = 0
            for _ in range(s):
                v = (v << 1) | (bits_arr[pos] if pos < n_bits else 1)
                pos += 1
            pred += _jpeg_extend(v, s)
        zz = None  # allocated only when the block has AC coefficients
        k = 1
        while k <= 63:
            code = 0
            length = 0
            while True:
                code = (code << 1) | (bits_arr[pos] if pos < n_bits else 1)
                pos += 1
                length += 1
                sym = ac_tab.get((length, code))
                if sym is not None:
                    break
                if length >= 16:
                    raise ValueError("invalid Huffman code in JPEG scan")
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL: 16 zeros
                k += 16
                continue
            k += sym >> 4
            if k > 63:
                raise ValueError("AC run past block end in JPEG scan")
            s = sym & 0xF
            v = 0
            for _ in range(s):
                v = (v << 1) | (bits_arr[pos] if pos < n_bits else 1)
                pos += 1
            if zz is None:
                zz = np.zeros(64, dtype=np.int64)
                zz[0] = pred
            zz[k] = _jpeg_extend(v, s)
            k += 1
        by, bx = divmod(blk, bw)
        if zz is None:
            # DC-only block (every block the shipped encoder emits):
            # the IDCT of a lone DC coefficient is the constant
            # S00/8 + 2^(P-1) — scalar math, no matmul/alloc. round() is
            # half-even, same convention as np.round in the general path.
            val = round(pred * qt0 / 8) + shift
            out[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] = min(maxv, max(0, val))
            continue
        coef = np.zeros(64, dtype=np.float64)
        coef[_JPEG_ZIGZAG] = zz * qt  # dequantize + inverse zigzag
        block = _IDCT_C.T @ coef.reshape(8, 8) @ _IDCT_C
        px = np.clip(np.round(block) + shift, 0, maxv).astype(out_dtype)
        out[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] = px
    return out[:h, :w]


def bmp_bytes(width: int, height: int, luma: bytes) -> bytes:
    """Uncompressed 24-bpp BMP (BITMAPFILEHEADER + BITMAPINFOHEADER +
    bottom-up pixel array). ``luma`` is one byte per pixel in storage
    order; each pixel is written as the grayscale BGR triplet
    ``(v, v, v)`` and rows are padded to 4-byte boundaries — every field
    a real decoder checks (offsets, strides, sizes) is exact. Unlike the
    PNG/JPEG builders, the pixel data here is genuinely decodable with
    no codec library, which is why this is the format whose pixel
    decode is REAL (mean_luma)."""
    if len(luma) != width * height:
        raise ValueError(f"luma must be {width * height} bytes, got {len(luma)}")
    stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (stride - width * 3)
    arr = np.frombuffer(luma, dtype=np.uint8)
    rows = []
    for r in range(height):
        row = np.repeat(arr[r * width : (r + 1) * width], 3).tobytes()
        rows.append(row + pad)
    pixel_data = b"".join(rows)
    off = 14 + 40
    file_header = b"BM" + struct.pack("<IHHI", off + len(pixel_data), 0, 0, off)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data), 0, 0, 0, 0
    )
    return file_header + info_header + pixel_data


#: WAV synthesis rate: 50 Hz × 16-bit mono ⟹ byte_rate 100 ⟹
#: duration_ms = data_size × 10 (exact integer, oracle-mirrorable)
_WAV_RATE = 50
_WAV_BITS = 16
_WAV_CHANNELS = 1


def wav_bytes(content: bytes) -> bytes:
    """Minimal RIFF/WAVE: fmt chunk (PCM, 50 Hz, 16-bit mono) + data
    chunk carrying ``content`` verbatim. All length fields and the fmt
    arithmetic are real; the PCM samples are whatever bytes the content
    is — sample decode is the stub boundary."""
    block_align = _WAV_CHANNELS * _WAV_BITS // 8
    byte_rate = _WAV_RATE * block_align
    fmt = struct.pack(
        "<HHIIHH", 1, _WAV_CHANNELS, _WAV_RATE, byte_rate, block_align, _WAV_BITS
    )
    data = content
    return (
        b"RIFF"
        + struct.pack("<I", 4 + (8 + len(fmt)) + (8 + len(data)))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


# ---------------------------------------------------------------------------
# container parsers (pure stdlib)

def parse_container(payload: bytes) -> dict:
    """Parse a media container header with pure ``struct``: returns
    ``{container, width, height, duration_ms, content}``. PNG → IHDR dims
    + concatenated IDAT bytes; JPEG → SOF0/SOF2 dims + concatenated COM
    bytes; WAV → fmt/data chunks ⟹ duration_ms = data_size·1000/byte_rate
    + data bytes; anything else → opaque ``raw`` passthrough. Malformed
    containers that CLAIM a known signature raise (``ValueError``) —
    corrupt media must surface, not silently pass as raw."""
    if payload.startswith(b"\x89PNG\r\n\x1a\n"):
        width = height = None
        depth = ctype_png = None
        text = b""
        idat = b""
        pos = 8
        while pos + 8 <= len(payload):
            (clen,) = struct.unpack_from(">I", payload, pos)
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + clen]
            if ctype == b"IHDR":
                width, height, depth, ctype_png = struct.unpack_from(">IIBB", data, 0)
            elif ctype == b"tEXt":
                # keyword\0text per the PNG spec; content = the text part
                _kw, _, text_part = data.partition(b"\x00")
                text += text_part
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + clen  # len + type + data + crc
        if width is None:
            raise ValueError("PNG signature without IHDR chunk")
        return {
            "container": "png", "width": int(width), "height": int(height),
            "duration_ms": None, "content": text, "idat": idat,
            "depth": int(depth), "color_type": int(ctype_png),
        }
    if payload.startswith(b"\xff\xd8"):
        width = height = None
        content = b""
        precision = sof_marker = None
        ncomp = 0
        adobe_transform = None  # APP14 Adobe color-transform byte
        sof_comps: list[tuple] = []
        dqt: dict[int, np.ndarray] = {}  # Tq -> 64 coefficients, zigzag order
        dht: dict[tuple[int, int], tuple] = {}  # (class, id) -> (bits, vals)
        sos = None
        scan = None
        scan_segments: list[bytes] | None = None
        scans: list[dict] = []  # every SOS, in order (progressive: several)
        dri = 0  # restart interval in MCUs (0 = none), from a DRI segment
        pos = 2
        while pos + 2 <= len(payload):
            if payload[pos] != 0xFF:
                raise ValueError(f"JPEG marker expected at {pos}")
            marker = payload[pos + 1]
            if marker == 0xD9:  # EOI
                break
            if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # RST/TEM: no length
                pos += 2
                continue
            if pos + 4 > len(payload):
                raise ValueError(f"truncated JPEG segment at {pos}")
            (seglen,) = struct.unpack_from(">H", payload, pos + 2)
            data = payload[pos + 4 : pos + 2 + seglen]
            if seglen < 2 or len(data) != seglen - 2:
                raise ValueError(f"truncated JPEG segment at {pos}")
            if marker in (0xC0, 0xC1, 0xC2):  # SOF0 / SOF1 / SOF2
                # SOF1 (extended sequential) is the frame type 12-bit
                # JPEGs must use (T.81 table B.2: baseline SOF0 is
                # 8-bit-only); its scan layout is identical to baseline
                precision, height, width, ncomp = struct.unpack_from(">BHHB", data, 0)
                sof_marker = marker
                sof_comps = [
                    (data[6 + 3 * i], data[7 + 3 * i], data[8 + 3 * i])
                    for i in range(ncomp)
                ]  # (component id, Hi<<4|Vi, quant table id)
            elif marker == 0xFE:  # COM
                content += data
            elif marker == 0xEE and data[:5] == b"Adobe" and len(data) >= 12:
                # APP14 Adobe: DCTEncodeVersion(2) flags0(2) flags1(2)
                # transform(1) — transform 0 = CMYK (or RGB for ncomp=3),
                # 1 = YCbCr, 2 = YCCK. The only in-band signal real
                # 4-component JPEGs carry for their color model.
                adobe_transform = int(data[11])
            elif marker == 0xDB:  # DQT: one or more (Pq|Tq, 64|128B) tables
                p = 0
                while p < len(data):
                    pq, tq = data[p] >> 4, data[p] & 0xF
                    if pq == 0:  # 8-bit table entries
                        dqt[tq] = np.frombuffer(
                            data[p + 1 : p + 65], dtype=np.uint8
                        ).astype(np.int64)
                        p += 65
                    elif pq == 1:  # 16-bit entries (12-bit precision frames)
                        dqt[tq] = np.frombuffer(
                            data[p + 1 : p + 129], dtype=">u2"
                        ).astype(np.int64)
                        p += 129
                    else:
                        raise ValueError(f"invalid DQT precision Pq={pq}")
            elif marker == 0xC4:  # DHT: one or more (Tc|Th, BITS, VALS)
                p = 0
                while p < len(data):
                    tc, th = data[p] >> 4, data[p] & 0xF
                    bits = tuple(data[p + 1 : p + 17])
                    n = sum(bits)
                    dht[(tc, th)] = (bits, tuple(data[p + 17 : p + 17 + n]))
                    p += 17 + n
            elif marker == 0xDD:  # DRI: restart interval in MCUs
                if len(data) < 2:  # seglen=2 passes the guard above
                    raise ValueError(f"truncated DRI segment at {pos}")
                (dri,) = struct.unpack_from(">H", data, 0)
            elif marker == 0xDA:  # SOS header, then the entropy-coded scan
                ns = data[0]
                comps = [
                    (data[1 + 2 * i], data[2 + 2 * i] >> 4, data[2 + 2 * i] & 0xF)
                    for i in range(ns)
                ]
                ss, se, ahal = data[1 + 2 * ns], data[2 + 2 * ns], data[3 + 2 * ns]
                sos = {"ns": ns, "comps": comps, "ss": ss, "se": se, "ahal": ahal}
                p = pos + 2 + seglen
                raw = bytearray()
                scan_segments = []
                while p < len(payload):  # destuff until a real marker
                    ff = payload.find(b"\xff", p)
                    if ff == -1:
                        raw += payload[p:]
                        p = len(payload)
                        break
                    raw += payload[p:ff]
                    nxt = payload[ff + 1] if ff + 1 < len(payload) else 0xD9
                    if nxt == 0x00:  # stuffed data byte
                        raw.append(0xFF)
                        p = ff + 2
                        continue
                    if 0xD0 <= nxt <= 0xD7:  # restart marker: segment ends
                        scan_segments.append(bytes(raw))
                        raw = bytearray()
                        p = ff + 2
                        continue
                    p = ff
                    break
                scan_segments.append(bytes(raw))
                scan = b"".join(scan_segments)
                # per-scan record (progressive frames carry several SOS;
                # each uses the DHT/DRI state as of ITS header, so snapshot)
                scans.append({
                    "sos": sos, "segments": scan_segments,
                    "dht": dict(dht), "dri": int(dri),
                })
                pos = p
                continue
            pos += 2 + seglen
        if width is None:
            raise ValueError("JPEG without SOF frame header")
        return {
            "container": "jpeg", "width": int(width), "height": int(height),
            "duration_ms": None, "content": content,
            "precision": int(precision), "ncomp": int(ncomp),
            "sof_comps": sof_comps, "sof_marker": sof_marker,
            "dqt": dqt, "dht": dht, "sos": sos, "scan": scan,
            "scan_segments": scan_segments, "scans": scans, "dri": int(dri),
            "adobe_transform": adobe_transform,
        }
    # 'BM' alone is two printable ASCII chars and occurs at the start of
    # ordinary text ("BMW announced..."), unlike the other containers'
    # longer non-printable magics — demand the full BITMAPFILEHEADER
    # shape (declared file size == payload size, reserved words zero,
    # in-bounds pixel offset) before treating a payload as BMP; anything
    # else falls through to 'raw'
    if (
        payload.startswith(b"BM")
        and len(payload) >= 54
        and struct.unpack_from("<I", payload, 2)[0] == len(payload)
        and payload[6:10] == b"\x00\x00\x00\x00"
        and 54 <= struct.unpack_from("<I", payload, 10)[0] <= len(payload)
    ):
        (off,) = struct.unpack_from("<I", payload, 10)
        _hsize, width, height, _planes, bpp, comp = struct.unpack_from(
            "<IiiHHI", payload, 14
        )
        if bpp != 24 or comp != 0:
            raise ValueError(f"only uncompressed 24bpp BMP supported (bpp={bpp}, comp={comp})")
        stride = (width * 3 + 3) & ~3
        h = abs(height)  # negative height = top-down row order
        rows = []
        for r in range(h):
            row = payload[off + r * stride : off + r * stride + width * 3]
            if len(row) != width * 3:
                raise ValueError(f"BMP pixel array truncated at row {r}")
            rows.append(row)
        return {
            "container": "bmp", "width": int(width), "height": h,
            "duration_ms": None, "content": b"".join(rows),  # unpadded BGR, stored row order
            "top_down": height < 0,
        }
    if payload.startswith(b"RIFF") and payload[8:12] == b"WAVE":
        byte_rate = None
        data = None
        pos = 12
        while pos + 8 <= len(payload):
            ctype = payload[pos : pos + 4]
            (clen,) = struct.unpack_from("<I", payload, pos + 4)
            body = payload[pos + 8 : pos + 8 + clen]
            if ctype == b"fmt ":
                _fmt, _ch, _rate, byte_rate, _ba, _bits = struct.unpack_from(
                    "<HHIIHH", body, 0
                )
            elif ctype == b"data":
                data = body
            pos += 8 + clen + (clen & 1)  # RIFF chunks are word-aligned
        if byte_rate is None or data is None:
            raise ValueError("WAVE without fmt/data chunks")
        return {
            "container": "wav", "width": None, "height": None,
            "duration_ms": len(data) * 1000 // byte_rate, "content": data,
        }
    return {
        "container": "raw", "width": None, "height": None,
        "duration_ms": None, "content": payload,
    }


# ---------------------------------------------------------------------------
# synthesis

#: audio synthesis: n_samples = 64 + id % 192 ⟹ data 2n bytes at
#: byte_rate 100 ⟹ duration_ms = n × 20 (exact integer, oracle-mirrorable)
_PCM_BASE, _PCM_MOD = 64, 192


def pcm_samples(mid: int) -> np.ndarray:
    """Deterministic int16 PCM for media id ``mid``: n = 64 + id % 192
    samples, sample_i = (id + i) % 256 − 128 — a byte-granular sawtooth
    whose sum-of-squares the oracle recomputes with exact integer
    arithmetic (range + list_transform in DuckDB)."""
    n = _PCM_BASE + mid % _PCM_MOD
    return (((np.arange(n, dtype=np.int64) + mid) % 256) - 128).astype("<i2")


def luma_pixels(mid: int, w: int, h: int) -> bytes:
    """Deterministic grayscale pixels for media id ``mid``:
    pixel_j = (id + j) % 256 over storage order — sum-recomputable by the
    oracle the same way as ``pcm_samples``."""
    return (((np.arange(w * h, dtype=np.int64) + mid) % 256).astype(np.uint8)).tobytes()


def synthesize_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic fake media table derived from the documents corpus,
    with REAL container bytes: ``doc_id % 3`` → image, audio (WAV),
    video (opaque raw). Images split three ways — ``id % 12 == 0`` PNG,
    ``id % 12 == 6`` uncompressed 24-bpp BMP, odd image ids JPEG. The
    document text is embedded as PNG-tEXt / JPEG-COM / raw content, so
    the extraction pipeline must round-trip real framing to recover it;
    PNG payloads additionally carry a REAL zlib-compressed filtered
    pixel array and BMP an uncompressed one (``luma_pixels``), and WAV
    payloads carry REAL int16 PCM (``pcm_samples``), so the decode
    stage has actual bytes to inflate/unfilter/decode.
    Image dims are ``16 + id % 64`` × ``16 + id % 48`` — nontrivial
    values the header parse has to get exactly right."""
    src = docs.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(text_col).alias("_text"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("media_id", "media_type", "payload", "width", "height", "duration_ms")}
            for mid, text in zip(pdf["media_id"], pdf["_text"]):
                mid = int(mid)
                s = text or ""
                content = s.encode("utf-8")
                mtype = ("image", "audio", "video")[mid % 3]
                duration = len(s) * 10
                if mtype == "image":
                    w, h = 16 + mid % 64, 16 + mid % 48
                    if mid % 12 == 0:
                        payload = png_bytes(w, h, content, luma_pixels(mid, w, h))
                    elif mid % 12 == 6:
                        payload = bmp_bytes(w, h, luma_pixels(mid, w, h))
                    else:
                        payload = jpeg_bytes(
                            w, h, content, jpeg_block_values(mid, w, h)
                        )
                elif mtype == "audio":
                    w, h = 64, 64
                    samples = pcm_samples(mid)
                    payload = wav_bytes(samples.tobytes())
                    duration = len(samples) * 20  # 2n bytes × 10 ms/byte
                else:
                    w, h = 64, 64
                    payload = content
                rows["media_id"].append(mid)
                rows["media_type"].append(mtype)
                rows["payload"].append(payload)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["duration_ms"].append(duration)
            yield pd.DataFrame(rows)

    from smoltable_spark.functions.dedup import spread

    target = min(docs.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(src, target).mapInPandas(run, MEDIA_SCHEMA)


def _fake_feature(content: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for a real decoder+featurizer: bytes of the
    sha256 digest scaled to [0,1). Replace with a real codec in prod."""
    dig = hashlib.sha256(content or b"").digest()
    return [b / 255.0 for b in dig[:dim]]


def extract_features(
    media: DataFrame, decode_stub: bool = True, dim: int = 8
) -> DataFrame:
    """Arrow-batched header parse + feature extraction over payloads.

    Three stages inside one ``mapInPandas`` pass:

    1. **Header parse (REAL)** — ``parse_container`` reads PNG IHDR /
       JPEG SOF0 / BMP info header / WAV fmt+data framing with pure
       ``struct`` and recovers the container's dimensions, duration, and
       embedded content bytes.
    2. **Media decode (REAL)** — formats decodable with stdlib+numpy
       are fully decoded: BMP pixel arrays and PNG image data
       (zlib-inflate + unfilter, ``png_decode``) → ``mean_luma``
       (exact integer byte-sum / pixel-count), WAV 16-bit PCM →
       ``rms_amp`` (exact integer sum-of-squares, one division, one
       correctly-rounded sqrt — bit-portable to the oracle).
    3. **JPEG decode (REAL, round-5)** — baseline-sequential scans are
       fully entropy-decoded with the pure-numpy ``jpeg_decode``
       (Huffman + dequant + inverse DCT) → ``mean_luma``; the remaining
       boundary is progressive/multi-component JPEG, which raises
       inside ``jpeg_decode``. ``decode_stub`` is retained for API
       compatibility and no longer gates anything (every synthesized
       format decodes for real); the ``feature`` column stays the
       deterministic content-hash stand-in for a learned featurizer.

    The 100 TB shape: payloads never leave the executor, only parsed
    headers + (tiny) feature vectors come back. ``payload_sha`` hashes
    the recovered CONTENT, so an oracle over the source text verifies
    the entire container round-trip bit-exactly.
    """
    del decode_stub  # retained for compatibility; all decode paths are real

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("media_id", "media_type", "container", "width", "height",
                     "duration_ms", "payload_sha", "feature", "mean_luma",
                     "rms_amp")}
            for mid, mtype, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["payload"]
            ):
                info = parse_container(bytes(payload) if payload is not None else b"")
                content = info["content"]
                mean_luma = rms_amp = None
                # REAL decode via the shared dispatch (_decode_pixels:
                # BMP rows / PNG inflate+unfilter / JPEG Huffman+IDCT);
                # the mean is orientation-invariant so stored row order
                # is fine, and the integer sum stays exact
                px = _decode_pixels(info)
                if px is not None:
                    mean_luma = float(int(px.sum(dtype=np.int64)) / px.size)
                elif info["container"] == "wav" and len(content) >= 2:
                    n = len(content) // 2  # drop a trailing odd byte
                    s = np.frombuffer(content[: 2 * n], dtype="<i2").astype(np.int64)
                    rms_amp = math.sqrt(int((s * s).sum()) / n)
                rows["media_id"].append(int(mid))
                rows["media_type"].append(mtype)
                rows["container"].append(info["container"])
                rows["width"].append(info["width"])
                rows["height"].append(info["height"])
                rows["duration_ms"].append(info["duration_ms"])
                rows["payload_sha"].append(hashlib.sha256(content).hexdigest())
                rows["feature"].append(_fake_feature(content, dim))
                rows["mean_luma"].append(mean_luma)
                rows["rms_amp"].append(rms_amp)
            yield pd.DataFrame(rows)

    from smoltable_spark.functions.dedup import spread

    # cap Python-worker fan-out: each mapInPandas partition pays worker
    # startup + Arrow setup, so small inputs want few fat partitions while
    # 100 TB inputs arrive pre-partitioned (spread is then a no-op)
    target = min(media.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(media, target).mapInPandas(run, FEATURES_SCHEMA)


def luma_histogram(media: DataFrame, n_buckets: int = 8) -> DataFrame:
    """Per-image luma histogram over FULLY DECODED pixels — the exposure/
    contrast profile a vision-data pipeline computes before filtering
    (all-black frames, blown-out scans). Covers every decodable image
    format: BMP pixel arrays (every 3rd byte of the unpadded BGR rows —
    one count per pixel, r=g=b by construction), PNG image data
    (zlib-inflate + per-row unfiltering via ``png_decode``), and
    baseline JPEG scans (Huffman + dequant + IDCT via ``jpeg_decode``);
    non-image containers contribute no rows. Empty buckets are omitted.

    Same 100 TB shape as ``extract_features``: payloads never leave the
    executor — only (media_id, bucket, n_px) rows come back, ≤ 8 per
    image whatever the resolution."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        width_b = 256 // n_buckets
        for pdf in batches:
            out = {"media_id": [], "bucket": [], "n_px": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                info = parse_container(bytes(payload) if payload is not None else b"")
                # shared decode dispatch; the histogram is a bag of pixel
                # values, so stored row order is irrelevant
                px = _decode_pixels(info)
                if px is None:
                    continue
                counts = np.bincount(px.ravel() // width_b, minlength=n_buckets)
                for b in range(n_buckets):
                    if counts[b]:
                        out["media_id"].append(int(mid))
                        out["bucket"].append(b)
                        out["n_px"].append(int(counts[b]))
            yield pd.DataFrame(out)

    from smoltable_spark.functions.dedup import spread

    target = min(media.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(media, target).mapInPandas(
        run, "media_id long, bucket int, n_px long"
    )


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Arrow-batched REAL resize (round-5, retiring the resize stub):
    every decodable image payload is decoded (``png_decode`` /
    BMP pixel rows / ``jpeg_decode``), nearest-neighbor resampled to
    (width, height) with a numpy index map, and re-encoded in its OWN
    container at the new dimensions — PNG keeps its tEXt content and
    gets freshly filtered+zlib'd scanlines, BMP a new pixel array, JPEG
    a full forward-DCT baseline scan (``jpeg_bytes_pixels``) keeping its
    COM content. Non-image payloads (audio/video/raw) pass through
    untouched — resampling PCM or opaque bytes as pixels would be wrong,
    not conservative. Same 100 TB shape as the other media ops: one
    Arrow pass, payloads never leave the executor."""
    idx_err = f"resize target must be positive, got {width}x{height}"
    if width < 1 or height < 1:
        raise ValueError(idx_err)

    def _resample(px: np.ndarray) -> np.ndarray:
        h0, w0 = px.shape
        iy = (np.arange(height, dtype=np.int64) * h0) // height
        ix = (np.arange(width, dtype=np.int64) * w0) // width
        return px[iy][:, ix]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            payloads, widths, heights = [], [], []
            for payload, w0, h0 in zip(pdf["payload"], pdf["width"], pdf["height"]):
                raw = bytes(payload) if payload is not None else b""
                info = parse_container(raw)
                cont = info["container"]
                if cont == "png" and info.get("idat"):
                    if (info["depth"], info["color_type"]) != (8, 0):
                        raise NotImplementedError(
                            "only grayscale-8 PNG resize is implemented"
                        )
                    px = _resample(
                        png_decode(info["idat"], info["width"], info["height"])
                    )
                    out = png_bytes(width, height, info["content"], px.tobytes())
                elif cont == "bmp" and info["content"]:
                    arr = np.frombuffer(info["content"], dtype=np.uint8)
                    if not (
                        np.array_equal(arr[0::3], arr[1::3])
                        and np.array_equal(arr[1::3], arr[2::3])
                    ):
                        raise NotImplementedError(
                            "only grayscale BMP resize is implemented"
                        )
                    px = arr[::3].reshape(info["height"], info["width"])
                    if info.get("top_down"):
                        # content is in stored row order; bmp_bytes always
                        # re-encodes bottom-up, so top-down rows must flip
                        # or the output is vertically mirrored
                        px = px[::-1]
                    px = _resample(px)
                    out = bmp_bytes(width, height, px.tobytes())
                elif cont == "jpeg" and info.get("scan") is not None:
                    px = _resample(jpeg_decode(info))
                    out = jpeg_bytes_pixels(width, height, info["content"], px)
                else:  # audio/video/raw (and scanless legacy JPEG): untouched
                    payloads.append(raw)
                    widths.append(w0)
                    heights.append(h0)
                    continue
                payloads.append(out)
                widths.append(width)
                heights.append(height)
            pdf["payload"] = payloads
            pdf["width"] = widths
            pdf["height"] = heights
            yield pdf

    from smoltable_spark.functions.dedup import spread

    target = min(media.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(media, target).mapInPandas(run, MEDIA_SCHEMA)


def _decode_pixels(info: dict) -> "np.ndarray | None":
    """Decode a parsed image container to its pixel matrix in LOGICAL
    (top-down) row order, or None for non-image / undecodable payloads.

    Orientation contract (ADVICE r6): rows come back in logical order for
    every container — a spec-compliant positive-height BMP stores rows
    bottom-up, so it is flipped here (``logical = stored[::-1]`` when
    ``top_down`` is False). This matters for the one orientation-SENSITIVE
    consumer, ``ahash_media``: a vertical flip permutes the 64 hash bits,
    so without normalization a bottom-up BMP and a PNG of the same logical
    image would hash differently and cross-container dedup would miss the
    pair. The flip-invariant consumers (mean, histogram) are unaffected by
    row order. ``resize_media`` keeps its own decode: its flip serves
    re-encode row alignment, a different contract."""
    cont = info["container"]
    if cont == "bmp" and info["content"]:
        arr = np.frombuffer(info["content"], dtype=np.uint8)
        if not (
            np.array_equal(arr[0::3], arr[1::3])
            and np.array_equal(arr[1::3], arr[2::3])
        ):
            raise NotImplementedError("only grayscale BMP decode is implemented")
        px = arr[::3].reshape(info["height"], info["width"])
        if not info.get("top_down"):
            px = px[::-1]  # positive height ⇒ bottom-up storage ⇒ flip
        return px
    if cont == "png" and info.get("idat"):
        if (info["depth"], info["color_type"]) != (8, 0):
            raise NotImplementedError("only grayscale-8 PNG decode is implemented")
        return png_decode(info["idat"], info["width"], info["height"])
    if cont == "jpeg" and info.get("scan") is not None:
        return jpeg_decode(info)
    return None


def audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched audio featurizer over REAL decoded WAV PCM: one row
    per audio clip with the classic pre-ML screening features a speech /
    audio data pipeline gates on — sample count, peak amplitude (clipping
    detector), zero-crossing count (crude spectral brightness), exact
    integer energy, and RMS. All integer columns are exact int64
    arithmetic over the decoded samples and the sqrt is the one
    correctly-rounded division+sqrt, so every value is oracle-pinnable.

    100 TB shape: payloads never leave the executor — 6 scalar columns
    per clip come back, whatever the clip length; non-audio rows produce
    no output (metadata pruning means their payload bytes are never
    shipped to Python when the caller pre-filters on ``media_type``)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("media_id", "n_samples", "peak_abs", "zcr", "energy",
                    "rms_amp")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                info = parse_container(bytes(payload) if payload is not None else b"")
                content = info["content"]
                if info["container"] != "wav" or len(content) < 2:
                    continue
                n = len(content) // 2  # drop a trailing odd byte
                s = np.frombuffer(content[: 2 * n], dtype="<i2").astype(np.int64)
                energy = int((s * s).sum())
                out["media_id"].append(int(mid))
                out["n_samples"].append(n)
                out["peak_abs"].append(int(np.abs(s).max()))
                out["zcr"].append(int(((s[:-1] * s[1:]) < 0).sum()))
                out["energy"].append(energy)
                out["rms_amp"].append(math.sqrt(energy / n))
            yield pd.DataFrame(out)

    from smoltable_spark.functions.dedup import spread

    target = min(media.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(media, target).mapInPandas(
        run,
        "media_id long, n_samples int, peak_abs int, zcr int, "
        "energy long, rms_amp double",
    )


def progressive_roundtrip(media: DataFrame) -> DataFrame:
    """Decode → re-encode PROGRESSIVE (SOF2) → re-decode, per JPEG image
    (round 7): the acceptance harness for the progressive codec path —
    baseline-decoded pixels are re-encoded as a FOUR-scan successive-
    approximation stream (point-transformed DC + EOBn-coded AC at Al=1,
    then the DC/AC refinement scan pair of T.81 G.1.2.3) and decoded
    again; ``n_exact`` counts pixels identical between the two decodes
    (full refinement reconstructs the shared coefficients exactly, so
    the contract is n_exact == n_px, which the oracle pins), and
    ``sum_luma`` is the exact integer pixel sum of the progressive
    decode (generator-recomputable). Non-JPEG rows produce no output.
    100 TB shape: one Arrow pass, 5 scalars out per image, payloads
    never leave the executor."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("media_id", "width", "height", "n_px", "n_exact",
                    "sum_luma")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                info = parse_container(
                    bytes(payload) if payload is not None else b""
                )
                if info["container"] != "jpeg" or info.get("scan") is None:
                    continue
                base = jpeg_decode(info)
                h0, w0 = base.shape
                prog = jpeg_decode(parse_container(
                    jpeg_bytes_progressive(w0, h0, b"", base.tobytes(), al=1)
                ))
                out["media_id"].append(int(mid))
                out["width"].append(w0)
                out["height"].append(h0)
                out["n_px"].append(w0 * h0)
                out["n_exact"].append(int((base == prog).sum()))
                out["sum_luma"].append(int(prog.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    from smoltable_spark.functions.dedup import spread

    target = min(media.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(media, target).mapInPandas(
        run,
        "media_id long, width int, height int, n_px long, n_exact long, "
        "sum_luma long",
    )


#: aHash thumb edge: 8×8 = 64 bits, packed MSB-first into two 32-bit
#: halves — fixed because the packing and the oracle SQL both assume it
_AHASH_GRID = 8


def ahash_media(media: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over FULLY DECODED pixels: decode
    (PNG inflate+unfilter / BMP rows / baseline-JPEG Huffman+IDCT),
    nearest-neighbor resample to an 8×8 thumb with the same integer
    index map as ``resize_media``, then one bit per thumb pixel:
    ``64 · p_j > Σp`` (strict, exact integer — no float mean). The 64
    bits pack MSB-first into two 32-bit halves (``ahash_hi``/``ahash_lo``,
    both < 2³², so BIGINT-safe in every engine).

    This is the image-dedup primitive: equal hashes ⇒ near-identical
    thumbs regardless of source resolution, and Hamming distance on the
    halves ranks near-duplicates. 100 TB shape: pure per-row map — one
    Arrow pass, 5 scalar columns out per image, payloads never leave the
    executor; the downstream dedup is a hash groupBy."""
    grid = _AHASH_GRID

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("media_id", "width", "height", "ahash_hi", "ahash_lo")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                info = parse_container(bytes(payload) if payload is not None else b"")
                px = _decode_pixels(info)
                if px is None:
                    continue
                h0, w0 = px.shape
                iy = (np.arange(grid, dtype=np.int64) * h0) // grid
                ix = (np.arange(grid, dtype=np.int64) * w0) // grid
                t = px[iy][:, ix].astype(np.int64).ravel()
                bits = (t.size * t) > int(t.sum())
                hi = lo = 0
                for j in range(32):
                    hi |= int(bits[j]) << (31 - j)
                    lo |= int(bits[32 + j]) << (31 - j)
                out["media_id"].append(int(mid))
                out["width"].append(int(info["width"]))
                out["height"].append(int(info["height"]))
                out["ahash_hi"].append(hi)
                out["ahash_lo"].append(lo)
            yield pd.DataFrame(out)

    from smoltable_spark.functions.dedup import spread

    target = min(media.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(media, target).mapInPandas(
        run, "media_id long, width int, height int, ahash_hi long, ahash_lo long"
    )


def ahash_near_pairs(
    hashes: DataFrame, max_df: int = 32, max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate pairs from an aHash table (media_id, ahash_hi,
    ahash_lo) via banded LSH + exact Hamming verify.

    Candidate channels:

    1. **Banded**: the 64-bit hash splits into 4×16-bit bands; rows
       sharing a band value become candidates. Pigeonhole gives
       exhaustive candidate generation only for ``max_hamming ≤ 3``
       (bands − 1 = 3 errors cannot dirty all 4 bands) — the same
       d ≤ bands−1 bound dedup_simhash_pairs pins against its
       brute-force oracle; larger ``max_hamming`` is best-effort (a
       pair with one flipped bit in every band is structurally missed).
       Bands hotter than ``max_df`` postings are dropped — hot buckets
       (the all-black-thumbnail problem) are non-discriminative and
       make the self-join quadratic; this is the second deliberate,
       documented recall bound: a d ≤ 3 pair whose only clean band is
       hot is missed too (cap-induced, like blocked Jaccard's
       max_block_rows tradeoff).
    2. **Exact star**: rows with IDENTICAL hashes pair to their group's
       min-id keeper — O(family) not O(family²), and exempt from the
       df-cap, so exact-dup families are found even when every band is
       hot.
    3. **Rarest band** (VERDICT r6 ask #4, the containment-anchor
       analogue of dedup.py's rare-shingle channel): every image's
       lowest-df band posting survives regardless of the cap (ties break
       on band_no), so an image whose every band is hot still posts
       exactly one candidate key. A near-pair whose only clean band is
       hot is found whenever that band is both images' rarest — the
       planted adversarial case in tests/test_round7.py. The channel has
       its own df-cap over the 1-per-image rarest postings (same
       ``max_df``), so the residual miss needs the conjunction: every
       clean band hot AND > max_df other images electing the same
       (band, value) as their rarest — strictly rarer than the old
       single-cap bound, and the pair volume stays bounded.

    Every surviving candidate is verified with the exact Hamming
    distance over the full 64 bits; pairs with distance ≤
    ``max_hamming`` survive. Recall = exhaustive for d ≤ 3 modulo the
    (now two-level) df-cap; precision = exact (verified). Pair volume is
    bounded by max_df²·bands + max_df²·rarest-buckets + Σ family sizes.

    The hash table is materialized first: it feeds FOUR
    branches (band melt, exact-star anchor, both verify sides), and
    without materialization each branch would re-run the upstream
    decode+hash Arrow pass — 4× the full media decode for a table of
    5 scalar columns per image."""
    h = materialize(hashes.select("media_id", "ahash_hi", "ahash_lo"), "corpus")
    bands = h.select(
        "media_id",
        F.expr(
            "stack(4, 0, shiftright(ahash_hi, 16), 1, ahash_hi % 65536, "
            "2, shiftright(ahash_lo, 16), 3, ahash_lo % 65536) "
            "AS (band_no, band_val)"
        ),
    )
    df = bands.groupBy("band_no", "band_val").agg(F.count("*").alias("_df"))
    capped = bands.join(df, ["band_no", "band_val"]).filter(
        F.col("_df") <= max_df
    )
    a = capped.select("band_no", "band_val", F.col("media_id").alias("id_a"))
    b = capped.select("band_no", "band_val", F.col("media_id").alias("id_b"))
    banded = (
        a.join(b, ["band_no", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    anchor = h.groupBy("ahash_hi", "ahash_lo").agg(
        F.min("media_id").alias("id_a")
    )
    star = (
        h.join(anchor, ["ahash_hi", "ahash_lo"])
        .filter(F.col("media_id") > F.col("id_a"))
        .select("id_a", F.col("media_id").alias("id_b"))
    )
    # rarest-band channel: one cap-exempt posting per image — its
    # lowest-df band (ties on band_no; deterministic: band_no is unique
    # within an image). A second df-cap over these 1-per-image postings
    # keeps the self-join bounded without reintroducing the hot-band miss
    # for small elect-groups.
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("media_id").orderBy("_df", "band_no")
    )
    rarest = (
        bands.join(df, ["band_no", "band_val"])
        .withColumn("_rk", rk)
        .filter(F.col("_rk") == 1)
        .select("band_no", "band_val", "media_id")
    )
    rdf = rarest.groupBy("band_no", "band_val").agg(
        F.count("*").alias("_rdf")
    )
    rcap = rarest.join(rdf, ["band_no", "band_val"]).filter(
        F.col("_rdf") <= max_df
    )
    ra = rcap.select("band_no", "band_val", F.col("media_id").alias("id_a"))
    rb = rcap.select("band_no", "band_val", F.col("media_id").alias("id_b"))
    rare_pairs = (
        ra.join(rb, ["band_no", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cand = banded.union(star).union(rare_pairs).distinct()
    ha = h.select(
        F.col("media_id").alias("id_a"),
        F.col("ahash_hi").alias("_hi_a"),
        F.col("ahash_lo").alias("_lo_a"),
    )
    hb = h.select(
        F.col("media_id").alias("id_b"),
        F.col("ahash_hi").alias("_hi_b"),
        F.col("ahash_lo").alias("_lo_b"),
    )
    hamming = F.bit_count(
        F.col("_hi_a").bitwiseXOR(F.col("_hi_b"))
    ) + F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling *plan*: one output row per frame to extract.

    Pure JVM-side (sequence + explode) — the expensive decode happens
    later in ``extract_features`` per planned frame. Planning frames
    relationally first lets Catalyst prune/limit before any decode.
    """
    frames = F.sequence(
        F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms)
    )
    return media.filter(F.col("media_type") == "video").select(
        "media_id", F.explode(frames).alias("frame_ms")
    )


# ---------------------------------------------------------------------------
# color JPEG (round 8): baseline YCbCr with chroma subsampling — the
# dominant real-world photo format (ITU-T T.81 baseline + the JFIF/T.871
# YCbCr color model). Encoder emits a 3-component interleaved-MCU scan
# (Y at HxV sampling, Cb/Cr at 1x1 — (2,2) is 4:2:0, (2,1) 4:2:2,
# (1,1) 4:4:4); decoder handles any H,V <= 4 per T.81, per-component
# quant/Huffman table binding, restart intervals, replication chroma
# upsample, and the T.871 YCbCr->RGB transform. Same oracle discipline
# as the grayscale path: block-constant synthesis is DC-only, whose
# dequant+IDCT round-trip is EXACT, so every decoded RGB value is
# closed-form recomputable in SQL.


def color_block_values(
    mid: int, width: int, height: int, sampling: tuple[int, int] = (2, 2)
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Deterministic per-block YCbCr constants for media id ``mid``:
    Y block (bx, by) on the padded MCU-aligned luma grid is
    ``(mid + by*bw + bx) % 256`` (the grayscale generator's formula over
    the wider grid); Cb / Cr are constant per MCU —
    ``(3*mid + mj*mw + mi + 101) % 256`` / ``(7*mid + mj*mw + mi + 53)
    % 256`` — so chroma replication upsample is exact everywhere and
    the decoded RGB is constant per 8x8 luma block (each luma block
    lies inside exactly one MCU)."""
    hy, vy = sampling
    mw = (width + 8 * hy - 1) // (8 * hy)
    mh = (height + 8 * vy - 1) // (8 * vy)
    bw, bh = mw * hy, mh * vy
    idx = np.arange(bh, dtype=np.int64)[:, None] * bw + np.arange(bw, dtype=np.int64)
    y = ((mid + idx) % 256).astype(np.uint8)
    midx = np.arange(mh, dtype=np.int64)[:, None] * mw + np.arange(mw, dtype=np.int64)
    cb = ((3 * mid + midx + 101) % 256).astype(np.uint8)
    cr = ((7 * mid + midx + 53) % 256).astype(np.uint8)
    return y, cb, cr


def _jpeg_color_marker_segments(
    width: int,
    height: int,
    content: bytes,
    sampling: tuple[int, int],
    ac_bits: tuple,
    ac_vals: tuple,
    restart_interval: int = 0,
    precision: int = 8,
) -> list[bytes]:
    """SOI + COM chunks + DQT (unit tables 0/1) + SOF0 (3 components:
    Y id 1 at ``sampling``, Cb id 2 and Cr id 3 at 1x1) + DHT (DC/AC
    tables 0 for luma AND distinct-id copies 1 for chroma — identical
    specs, but the decoder must bind per component) + optional DRI +
    SOS (3 components, full interleave). ``precision=12`` (round 11)
    switches the frame to SOF1 extended-sequential (SOF0 is 8-bit-only,
    T.81 B.2), Pq=1 16-bit-entry unit DQTs, and the category-15 DC
    tables — the 12-bit COLOR variant of ``jpeg_bytes_12bit``."""
    hy, vy = sampling
    sof = struct.pack(">BHHB", precision, height, width, 3) + bytes(
        [1, (hy << 4) | vy, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    out = [b"\xff\xd8"]
    for off in range(0, max(len(content), 1), _JPEG_COM_MAX):
        chunk = content[off : off + _JPEG_COM_MAX]
        out += [b"\xff\xfe", struct.pack(">H", 2 + len(chunk)), chunk]
    if precision == 12:
        unit16 = struct.pack(">64H", *([1] * 64))
        dqt = b"\x10" + unit16 + b"\x11" + unit16  # Pq=1, Tq=0/1
        dc_bits, dc_vals = _JPEG_DC12_BITS, _JPEG_DC12_VALS
        sof_marker = b"\xff\xc1"
    else:
        dqt = b"\x00" + bytes([1] * 64) + b"\x01" + bytes([1] * 64)
        dc_bits, dc_vals = _JPEG_DC_BITS, _JPEG_DC_VALS
        sof_marker = b"\xff\xc0"
    dht = b"".join(
        bytes([(tc << 4) | th]) + bytes(dc_bits if tc == 0 else ac_bits)
        + bytes(dc_vals if tc == 0 else ac_vals)
        for th in (0, 1)
        for tc in (0, 1)
    )
    sos = b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00"
    out += [
        b"\xff\xdb", struct.pack(">H", 2 + len(dqt)), dqt,
        sof_marker, struct.pack(">H", 2 + len(sof)), sof,
        b"\xff\xc4", struct.pack(">H", 2 + len(dht)), dht,
    ]
    if restart_interval:
        out += [b"\xff\xdd", struct.pack(">HH", 4, restart_interval)]
    out += [b"\xff\xda", struct.pack(">H", 2 + len(sos)), sos]
    return out


def _put_dc_only(wr: _JpegBitWriter, dc_codes: dict, ac_codes: dict,
                 v: int, pred: int, shift: int = 128) -> int:
    """Emit one DC-only block (difference-coded DC of a constant block
    of sample value ``v`` under a unit quant table, then EOB); returns
    the new predictor. ``shift`` is the level shift — 2^(P-1), so 128
    for 8-bit frames and 2048 for 12-bit ones (T.81 A.3.1)."""
    dc = 8 * (int(v) - shift)
    diff = dc - pred
    s = _jpeg_category(diff)
    code, length = dc_codes[s]
    wr.put(code, length)
    if s:
        wr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    code, length = ac_codes[0x00]
    wr.put(code, length)
    return dc


def jpeg_bytes_color(
    width: int,
    height: int,
    content: bytes,
    y_blocks: np.ndarray,
    cb_blocks: np.ndarray,
    cr_blocks: np.ndarray,
    sampling: tuple[int, int] = (2, 2),
    restart_interval: int = 0,
    precision: int = 8,
) -> bytes:
    """Baseline 3-component YCbCr JPEG from per-block CONSTANTS:
    ``y_blocks`` is (mh*Vy, mw*Hy) per-8x8-luma-block values on the
    MCU-padded grid, ``cb_blocks``/``cr_blocks`` are (mh, mw) per-MCU
    chroma constants. The scan interleaves MCUs per T.81 A.2.3 — for
    each MCU, Hy*Vy Y blocks in raster order, then one Cb, one Cr —
    with independent per-component DC predictors, all blocks DC-only
    (exact round-trip under the unit quant tables). ``restart_interval``
    emits DRI + byte-aligned RSTm every that many MCUs with ALL
    predictors reset (T.81 E.2.4). ``precision=12`` (round 11) emits
    the extended-sequential 12-bit COLOR variant: SOF1 frame, Pq=1
    16-bit DQTs, category-15 DC tables, block values in 0..4095 with
    level shift 2048."""
    if precision not in (8, 12):
        raise ValueError(f"precision must be 8 or 12, got {precision}")
    maxv = (1 << precision) - 1
    shift = 1 << (precision - 1)
    for arr, nm in ((y_blocks, "y"), (cb_blocks, "cb"), (cr_blocks, "cr")):
        if arr.size and (int(arr.min()) < 0 or int(arr.max()) > maxv):
            raise ValueError(f"{nm}_blocks must be in 0..{maxv}")
    hy, vy = sampling
    mw = (width + 8 * hy - 1) // (8 * hy)
    mh = (height + 8 * vy - 1) // (8 * vy)
    if y_blocks.shape != (mh * vy, mw * hy):
        raise ValueError(f"y_blocks must be {(mh * vy, mw * hy)}, got {y_blocks.shape}")
    if cb_blocks.shape != (mh, mw) or cr_blocks.shape != (mh, mw):
        raise ValueError(f"chroma blocks must be {(mh, mw)}")
    if precision == 12:
        dc_codes = _huff_canonical(_JPEG_DC12_BITS, _JPEG_DC12_VALS)
    else:
        dc_codes = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    wr = _JpegBitWriter()
    preds = [0, 0, 0]
    chunks: list[bytes] = []
    rst = 0
    for mcu in range(mw * mh):
        if restart_interval and mcu and mcu % restart_interval == 0:
            chunks.append(wr.done())
            chunks.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) % 8
            wr = _JpegBitWriter()
            preds = [0, 0, 0]
        mj, mi = divmod(mcu, mw)
        for r in range(vy):
            for c in range(hy):
                preds[0] = _put_dc_only(
                    wr, dc_codes, ac_codes,
                    int(y_blocks[mj * vy + r, mi * hy + c]), preds[0], shift,
                )
        preds[1] = _put_dc_only(
            wr, dc_codes, ac_codes, int(cb_blocks[mj, mi]), preds[1], shift
        )
        preds[2] = _put_dc_only(
            wr, dc_codes, ac_codes, int(cr_blocks[mj, mi]), preds[2], shift
        )
    chunks.append(wr.done())
    out = _jpeg_color_marker_segments(
        width, height, content, sampling,
        _JPEG_AC_BITS, _JPEG_AC_VALS, restart_interval, precision,
    )
    out += [b"".join(chunks), b"\xff\xd9"]
    return b"".join(out)


def color_block_values_12bit(
    mid: int, width: int, height: int, sampling: tuple[int, int] = (2, 2)
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Deterministic per-block YCbCr constants for a 12-BIT color frame
    (round 11): same grid layout as ``color_block_values`` but over the
    0..4095 sample range, with multipliers chosen so values actually
    exercise the extended range (a % 4096 of the 8-bit formula would
    stay under 256 for small ids). Y block (bx, by) on the padded grid
    is ``(mid * 17 + i * 29) % 4096`` for flat index i; Cb / Cr are
    per-MCU ``(3*mid + 31*j + 1717) % 4096`` / ``(7*mid + 37*j + 2900)
    % 4096`` — closed forms a SQL oracle can replicate exactly."""
    hy, vy = sampling
    mw = (width + 8 * hy - 1) // (8 * hy)
    mh = (height + 8 * vy - 1) // (8 * vy)
    bw, bh = mw * hy, mh * vy
    idx = np.arange(bh, dtype=np.int64)[:, None] * bw + np.arange(bw, dtype=np.int64)
    y = ((mid * 17 + idx * 29) % 4096).astype(np.uint16)
    midx = np.arange(mh, dtype=np.int64)[:, None] * mw + np.arange(mw, dtype=np.int64)
    cb = ((3 * mid + 31 * midx + 1717) % 4096).astype(np.uint16)
    cr = ((7 * mid + 37 * midx + 2900) % 4096).astype(np.uint16)
    return y, cb, cr


def color_block_values_samplings(
    mid: int,
    width: int,
    height: int,
    samplings: list[tuple[int, int]],
) -> list[np.ndarray]:
    """Deterministic per-block constants for ARBITRARY per-component
    sampling factors: component i's blocks live on its own MCU-padded
    (mh*Vi x mw*Hi) grid, with the color generator's per-channel
    formulas indexed by that grid's raster position (the same family as
    ``color_block_values``, whose chroma-per-MCU special case this
    generalizes)."""
    hmax = max(h for h, _ in samplings)
    vmax = max(v for _, v in samplings)
    mw = (width + 8 * hmax - 1) // (8 * hmax)
    mh = (height + 8 * vmax - 1) // (8 * vmax)
    muls = (1, 3, 7)
    offs = (0, 101, 53)
    out = []
    for ci, (h_i, v_i) in enumerate(samplings):
        bw, bh = mw * h_i, mh * v_i
        idx = (
            np.arange(bh, dtype=np.int64)[:, None] * bw
            + np.arange(bw, dtype=np.int64)
        )
        out.append(((muls[ci] * mid + idx + offs[ci]) % 256).astype(np.uint8))
    return out


def jpeg_bytes_color_samplings(
    width: int,
    height: int,
    content: bytes,
    block_planes: list[np.ndarray],
    samplings: list[tuple[int, int]],
) -> bytes:
    """Baseline 3-component YCbCr JPEG with ARBITRARY per-component
    sampling factors (round 10 — the fixture source for FRACTIONAL
    upsampling ratios like Y at H=3 over chroma at H=2, which
    ``jpeg_bytes_color``'s luma-at-HxV/chroma-at-1x1 shape can never
    emit). Per-block CONSTANTS on each component's own MCU-padded grid,
    DC-only blocks under unit quant (exact round-trip), interleaved MCU
    scan per T.81 A.2.3 via the shared ``_mcu_block_order``. Component 1
    binds quant/Huffman tables 0, components 2-3 tables 1 (identical
    specs, distinct ids — the per-component binding the decoder must
    honor)."""
    if len(samplings) != 3 or len(block_planes) != 3:
        raise ValueError("need exactly 3 components")
    hmax = max(h for h, _ in samplings)
    vmax = max(v for _, v in samplings)
    mw = (width + 8 * hmax - 1) // (8 * hmax)
    mh = (height + 8 * vmax - 1) // (8 * vmax)
    for p, (h_i, v_i) in zip(block_planes, samplings):
        if p.shape != (mh * v_i, mw * h_i):
            raise ValueError(
                f"component blocks must be {(mh * v_i, mw * h_i)}, got {p.shape}"
            )
    sof = struct.pack(">BHHB", 8, height, width, 3) + bytes(
        [
            1, (samplings[0][0] << 4) | samplings[0][1], 0,
            2, (samplings[1][0] << 4) | samplings[1][1], 1,
            3, (samplings[2][0] << 4) | samplings[2][1], 1,
        ]
    )
    out = [b"\xff\xd8"]
    for off in range(0, max(len(content), 1), _JPEG_COM_MAX):
        chunk = content[off : off + _JPEG_COM_MAX]
        out += [b"\xff\xfe", struct.pack(">H", 2 + len(chunk)), chunk]
    dqt = b"\x00" + bytes([1] * 64) + b"\x01" + bytes([1] * 64)
    dht = b"".join(
        bytes([(tc << 4) | th])
        + bytes(_JPEG_DC_BITS if tc == 0 else _JPEG_AC_BITS)
        + bytes(_JPEG_DC_VALS if tc == 0 else _JPEG_AC_VALS)
        for th in (0, 1)
        for tc in (0, 1)
    )
    sos = b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00"
    out += [
        b"\xff\xdb", struct.pack(">H", 2 + len(dqt)), dqt,
        b"\xff\xc0", struct.pack(">H", 2 + len(sof)), sof,
        b"\xff\xc4", struct.pack(">H", 2 + len(dht)), dht,
        b"\xff\xda", struct.pack(">H", 2 + len(sos)), sos,
    ]
    dc_codes = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    wr = _JpegBitWriter()
    preds = [0, 0, 0]
    for ci, by, bx in _mcu_block_order(samplings, mw, mh):
        preds[ci] = _put_dc_only(
            wr, dc_codes, ac_codes, int(block_planes[ci][by, bx]), preds[ci]
        )
    out += [wr.done(), b"\xff\xd9"]
    return b"".join(out)


def synthesize_fractional_media(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic FRACTIONAL-sampling media table: every image doc
    (doc_id % 3 == 0) becomes a real baseline YCbCr JPEG with Y at 3x3
    and chroma at 2x2 — a 3/2 upsampling ratio on both axes, the T.81
    shape the integer-replication decoder used to reject."""
    src = docs.filter((F.col(id_col) % 3) == 0).select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(text_col).alias("_text"),
    )
    samplings = [(3, 3), (2, 2), (2, 2)]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("media_id", "media_type", "payload", "width", "height",
                     "duration_ms")}
            for mid, text in zip(pdf["media_id"], pdf["_text"]):
                mid = int(mid)
                w, h = 16 + mid % 64, 16 + mid % 48
                payload = jpeg_bytes_color_samplings(
                    w, h, (text or "").encode("utf-8"),
                    color_block_values_samplings(mid, w, h, samplings),
                    samplings,
                )
                rows["media_id"].append(mid)
                rows["media_type"].append("image")
                rows["payload"].append(payload)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["duration_ms"].append(None)
            yield pd.DataFrame(rows)

    from smoltable_spark.functions.dedup import spread

    target = min(docs.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(src, target).mapInPandas(run, MEDIA_SCHEMA)


def _encode_block_coefs(
    wr: _JpegBitWriter, blk: np.ndarray, pred: int,
    dc_codes: dict, ac_codes: dict,
) -> int:
    """Forward-DCT + zigzag run/size entropy-code one 8x8 pixel block
    (unit quant table) into ``wr``; returns the new DC predictor.
    Factored from the grayscale ``jpeg_bytes_pixels`` inner loop so the
    color encoder shares the exact same coefficient coding."""
    S = _IDCT_C @ (blk - 128.0) @ _IDCT_C.T
    zz = np.round(S.ravel()[_JPEG_ZIGZAG]).astype(np.int64)
    diff = int(zz[0]) - pred
    s = _jpeg_category(diff)
    code, length = dc_codes[s]
    wr.put(code, length)
    if s:
        wr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            c, ln = ac_codes[0xF0]
            wr.put(c, ln)
            run -= 16
        s = _jpeg_category(v)
        c, ln = ac_codes[(run << 4) | s]
        wr.put(c, ln)
        wr.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        c, ln = ac_codes[0x00]
        wr.put(c, ln)
    return int(zz[0])


def jpeg_bytes_color_pixels(
    width: int,
    height: int,
    content: bytes,
    y_plane: np.ndarray,
    cb_plane: np.ndarray,
    cr_plane: np.ndarray,
    sampling: tuple[int, int] = (2, 2),
    restart_interval: int = 0,
) -> bytes:
    """Baseline 3-component YCbCr JPEG of ARBITRARY planes (the color
    twin of ``jpeg_bytes_pixels``, exercising the decoder's AC path):
    ``y_plane`` is (height, width); ``cb_plane``/``cr_plane`` are the
    subsampled (ceil(h/Vy), ceil(w/Hy)) chroma planes. Real forward DCT
    per block with edge replication into MCU padding, unit quant, full
    run/size AC tables — decode error <= +/-1 per YCbCr sample from
    coefficient rounding alone."""
    hy, vy = sampling
    mw = (width + 8 * hy - 1) // (8 * hy)
    mh = (height + 8 * vy - 1) // (8 * vy)
    yp = _pad_plane(y_plane, mh * vy * 8, mw * hy * 8)
    cbp = _pad_plane(cb_plane, mh * 8, mw * 8)
    crp = _pad_plane(cr_plane, mh * 8, mw * 8)
    dc_codes = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_canonical(_JPEG_AC_FULL_BITS, _JPEG_AC_FULL_VALS)
    wr = _JpegBitWriter()
    preds = [0, 0, 0]
    chunks: list[bytes] = []
    rst = 0
    for mcu in range(mw * mh):
        if restart_interval and mcu and mcu % restart_interval == 0:
            chunks.append(wr.done())
            chunks.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) % 8
            wr = _JpegBitWriter()
            preds = [0, 0, 0]
        mj, mi = divmod(mcu, mw)
        for r in range(vy):
            for c in range(hy):
                by, bx = mj * vy + r, mi * hy + c
                preds[0] = _encode_block_coefs(
                    wr, yp[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8],
                    preds[0], dc_codes, ac_codes,
                )
        for ci, plane in ((1, cbp), (2, crp)):
            preds[ci] = _encode_block_coefs(
                wr, plane[8 * mj : 8 * mj + 8, 8 * mi : 8 * mi + 8],
                preds[ci], dc_codes, ac_codes,
            )
    chunks.append(wr.done())
    out = _jpeg_color_marker_segments(
        width, height, content, sampling,
        _JPEG_AC_FULL_BITS, _JPEG_AC_FULL_VALS, restart_interval,
    )
    out += [b"".join(chunks), b"\xff\xd9"]
    return b"".join(out)


def ycbcr_to_rgb(
    y: np.ndarray, cb: np.ndarray, cr: np.ndarray, precision: int = 8
) -> np.ndarray:
    """JFIF (ITU-T T.871 §7) YCbCr -> RGB: R = Y + 1.402(Cr-C),
    G = Y - 0.344136(Cb-C) - 0.714136(Cr-C), B = Y + 1.772(Cb-C),
    each rounded as floor(x + 0.5) and clamped to [0, 2^P-1], where
    C = 2^(P-1) is the chroma center (128 at 8-bit, 2048 at 12-bit —
    T.871 defines the transform for arbitrary precision via the
    half-range offset). floor(x+.5) instead of banker's round so the
    oracle's SQL ``floor(x + 0.5)`` matches bit-for-bit (both sides
    evaluate the identical left-associated IEEE-double expression)."""
    center = float(1 << (precision - 1))
    maxv = (1 << precision) - 1
    yf = y.astype(np.float64)
    cbd = cb.astype(np.float64) - center
    crd = cr.astype(np.float64) - center
    r = np.floor(yf + 1.402 * crd + 0.5)
    g = np.floor(yf - 0.344136 * cbd - 0.714136 * crd + 0.5)
    b = np.floor(yf + 1.772 * cbd + 0.5)
    dtype = np.uint8 if precision == 8 else np.uint16
    return np.clip(np.stack([r, g, b], axis=-1), 0, maxv).astype(dtype)


def _decode_block_zz(rd: _JpegBitReader, dc_tab: dict, ac_tab: dict,
                     pred: int) -> tuple[int, np.ndarray | None]:
    """Entropy-decode one baseline block: returns (new DC predictor,
    zigzag coefficient vector — or None for a DC-only block, the fast
    path whose IDCT is the constant pred/8 + 128 under unit quant)."""
    s = rd.huff(dc_tab, "DC")
    if s:
        pred += _jpeg_extend(rd.bits(s), s)
    zz = None
    k = 1
    while k <= 63:
        sym = rd.huff(ac_tab, "AC")
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        k += sym >> 4
        if k > 63:
            raise ValueError("AC run past block end in JPEG scan")
        s = sym & 0xF
        if zz is None:
            zz = np.zeros(64, dtype=np.int64)
            zz[0] = pred
        zz[k] = _jpeg_extend(rd.bits(s), s)
        k += 1
    if zz is not None:
        zz[0] = pred
    return pred, zz


def jpeg_decode_color(info: dict) -> np.ndarray:
    """REAL multi-component JPEG decode (ITU-T T.81) from a
    ``parse_container`` result — returns an (height, width, 3) uint8
    RGB array. BASELINE frames decode in interleaved MCU order (A.2.3)
    with per-component Huffman/quant table binding, independent DC
    predictors, and restart intervals resetting ALL predictors;
    PROGRESSIVE (SOF2) frames route to the multi-scan color path
    (round 8b: interleaved DC scans + per-component non-interleaved AC
    scans with spectral selection and successive approximation). Both
    share the tail: per-component plane assembly at native
    (subsampled) resolution, replication chroma upsample to the luma
    grid, crop, and the T.871 YCbCr->RGB transform. Supports sampling
    factors H,V in 1..4 with integer upsampling ratios (4:2:0 / 4:2:2 /
    4:4:4 and beyond); single-component frames should use
    ``jpeg_decode``."""
    planes, hvs, hmax, vmax = _decode_color_planes(info)
    if info["ncomp"] == 4:
        return _cmyk_planes_to_rgb(
            planes, hvs, hmax, vmax, info["width"], info["height"],
            info.get("adobe_transform"),
        )
    return _planes_to_rgb(planes, hvs, hmax, vmax,
                          info["width"], info["height"],
                          int(info.get("precision") or 8))


def _upsample_floor(
    plane: np.ndarray, h_i: int, v_i: int, hmax: int, vmax: int,
    w: int, h: int,
) -> np.ndarray:
    """Nearest-sample (floor-map) upsample of an MCU-padded component
    plane to the w x h luma grid: output pixel (y, x) reads component
    sample (y*Vi // Vmax, x*Hi // Hmax) — T.81 A.1.1's sample-position
    mapping. For integer ratios this IS replication (floor(y*Vi/Vmax) ==
    y // (Vmax/Vi)), so the 4:2:0/4:2:2/4:4:4 paths are bit-unchanged;
    fractional ratios (Y at H=3 with chroma at H=2 — the round-10
    boundary retirement) get the same deterministic closed-form mapping
    instead of a NotImplementedError. libjpeg's default h2v2 upsample is
    the identical replication; its optional 'fancy' triangular filter is
    a smoothing choice, not a conformance requirement."""
    ys = (np.arange(h, dtype=np.int64) * v_i) // vmax
    xs = (np.arange(w, dtype=np.int64) * h_i) // hmax
    return plane[np.ix_(ys, xs)]


def _planes_to_rgb(
    planes, hvs, hmax, vmax, w: int, h: int, precision: int = 8
) -> np.ndarray:
    """Floor-map-upsample each component to the luma grid, crop, and
    convert (the tail both decode paths and the roundtrip share)."""
    full = [
        _upsample_floor(plane, h_i, v_i, hmax, vmax, w, h)
        for (h_i, v_i), plane in zip(hvs, planes)
    ]
    return ycbcr_to_rgb(full[0], full[1], full[2], precision)


def _cmyk_planes_to_rgb(
    planes, hvs, hmax, vmax, w: int, h: int, transform: int | None
) -> np.ndarray:
    """4-component (CMYK/YCCK) tail — round 10, retiring the ncomp=4
    boundary (scanned PDFs and print-pipeline images in real crawls).
    Adobe JPEGs store CMYK INVERTED (libjpeg convention: byte = 255-C),
    so with stored bytes c,m,y,k the composite is
    R = round(c*k/255), G = round(m*k/255), B = round(y*k/255)
    (the (255-C)(255-K)/255 identity on inverted values). APP14
    transform 2 (YCCK) additionally routes the first three channels
    through the T.871 YCbCr->RGB transform to recover the inverted CMY
    before the K multiply; transform 0/absent reads the planes as CMYK
    directly. round = floor(x + 0.5) so the oracle's SQL matches
    bit-for-bit (c*k <= 65025 is double-exact)."""
    full = [
        _upsample_floor(plane, h_i, v_i, hmax, vmax, w, h)
        for (h_i, v_i), plane in zip(hvs, planes)
    ]
    if transform == 1:
        raise ValueError(
            "APP14 transform=1 (YCbCr) is invalid for a 4-component frame"
        )
    if transform == 2:  # YCCK: undo the YCbCr leg to get inverted CMY
        cmy = ycbcr_to_rgb(full[0], full[1], full[2]).astype(np.float64)
    else:  # CMYK (transform 0 or no APP14): planes are the channels
        cmy = np.stack(full[:3], axis=-1).astype(np.float64)
    k = full[3].astype(np.float64)[..., None]
    return np.floor(cmy * k / 255.0 + 0.5).astype(np.uint8)


def _native_planes(planes, hvs, hmax, vmax, w: int, h: int):
    """Crop MCU-padded planes to their T.81 A.1.1 component dims
    (ceil(w*Hi/Hmax) x ceil(h*Vi/Vmax))."""
    out = []
    for (h_i, v_i), plane in zip(hvs, planes):
        cw = (w * h_i + hmax - 1) // hmax
        ch = (h * v_i + vmax - 1) // vmax
        out.append(plane[:ch, :cw])
    return out


def jpeg_decode_ycbcr(
    info: dict,
) -> tuple[list[np.ndarray], tuple[int, int]]:
    """Decode a color frame to its NATIVE-resolution [Y, Cb, Cr] planes
    (each cropped to its own component dims, T.81 A.1.1: ceil(w*Hi/Hmax)
    x ceil(h*Vi/Vmax)) plus the luma sampling factors — the shape the
    progressive re-encoder consumes (re-encoding from upsampled RGB
    would double-convert and lose exactness)."""
    planes, hvs, hmax, vmax = _decode_color_planes(info)
    out = _native_planes(planes, hvs, hmax, vmax,
                         info["width"], info["height"])
    return out, hvs[0]


def _decode_color_planes(
    info: dict,
) -> tuple[list[np.ndarray], list[tuple[int, int]], int, int]:
    """Shared color entry: validate, then decode to MCU-padded
    per-component planes via the baseline or progressive path. Returns
    (planes, [(Hi, Vi)], Hmax, Vmax)."""
    if info.get("ncomp") not in (3, 4):
        raise NotImplementedError(
            f"jpeg_decode_color: need 3- or 4-component frames "
            f"(ncomp={info.get('ncomp')})"
        )
    # 3-component frames decode at 8 OR 12 bits (round 11 — the color
    # pipeline is precision-parametrized end to end: level shift
    # 2^(P-1), clamp 2^P-1, uint16 planes, T.871 chroma center 2^(P-1));
    # 4-component (CMYK/YCCK) stays 8-bit-only — 12-bit Adobe CMYK has
    # no documented convention for the inverted-channel composite and
    # no observed crawl population, so the gate is explicit.
    if info.get("precision") not in (8, 12) or (
        info.get("precision") != 8 and info.get("ncomp") == 4
    ):
        raise NotImplementedError(
            f"jpeg_decode_color: 3-component frames decode at 8/12-bit, "
            f"4-component at 8-bit only (precision={info.get('precision')}, "
            f"ncomp={info.get('ncomp')})"
        )
    # fractional sampling ratios (T.81 allows Y at H=3 with chroma at
    # H=2) are handled by the floor-map upsample (_upsample_floor), and
    # the progressive path is component-count-agnostic (per-component
    # coefficient planes), so 4-component progressive decodes too —
    # both r8 gates retired in round 10
    if info.get("sof_marker") == 0xC2:
        return _jpeg_decode_progressive_color_planes(info)
    return _jpeg_decode_baseline_color_planes(info)


def _jpeg_decode_baseline_color_planes(
    info: dict,
) -> tuple[list[np.ndarray], list[tuple[int, int]], int, int]:
    if info.get("scan") is None or info.get("sos") is None:
        raise ValueError("JPEG without an entropy-coded scan")
    sos = info["sos"]
    if sos["ss"] != 0 or sos["se"] != 63 or sos["ahal"] != 0:
        raise NotImplementedError("non-sequential spectral selection")
    if sos["ns"] != len(info["sof_comps"]):
        raise NotImplementedError("color decode requires a fully interleaved scan")
    w, h = info["width"], info["height"]
    comps = []  # (h_i, v_i, qt, dc_tab, ac_tab)
    sos_by_id = {cid: (td, ta) for cid, td, ta in sos["comps"]}
    for cid, hv, tq in info["sof_comps"]:
        h_i, v_i = hv >> 4, hv & 0xF
        if not (1 <= h_i <= 4 and 1 <= v_i <= 4):
            raise ValueError(f"invalid sampling factors HiVi={hv:#x}")
        td, ta = sos_by_id[cid]
        comps.append((
            h_i, v_i, info["dqt"][tq],
            _huff_decode_table(*info["dht"][(0, td)]),
            _huff_decode_table(*info["dht"][(1, ta)]),
        ))
    hmax = max(c[0] for c in comps)
    vmax = max(c[1] for c in comps)
    mw = (w + 8 * hmax - 1) // (8 * hmax)
    mh = (h + 8 * vmax - 1) // (8 * vmax)
    precision = int(info.get("precision") or 8)
    shift = 1 << (precision - 1)
    maxv = (1 << precision) - 1
    out_dtype = np.uint8 if precision == 8 else np.uint16
    planes = [
        np.zeros((mh * v_i * 8, mw * h_i * 8), dtype=out_dtype)
        for h_i, v_i, _, _, _ in comps
    ]
    segments = info.get("scan_segments") or [info["scan"]]
    dri = int(info.get("dri") or 0)
    if len(segments) > 1 and dri == 0:
        raise ValueError("JPEG restart markers present without a DRI segment")
    seg_idx = 0
    rd = _JpegBitReader(segments[0])
    preds = [0] * len(comps)
    for mcu in range(mw * mh):
        if dri and mcu and mcu % dri == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG scan missing a restart segment")
            rd = _JpegBitReader(segments[seg_idx])
            preds = [0] * len(comps)
        mj, mi = divmod(mcu, mw)
        for ci, (h_i, v_i, qt, dc_tab, ac_tab) in enumerate(comps):
            for r in range(v_i):
                for c in range(h_i):
                    preds[ci], zz = _decode_block_zz(rd, dc_tab, ac_tab, preds[ci])
                    by, bx = mj * v_i + r, mi * h_i + c
                    sl = planes[ci][8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8]
                    if zz is None:
                        val = round(preds[ci] * int(qt[0]) / 8) + shift
                        sl[:] = min(maxv, max(0, val))
                        continue
                    coef = np.zeros(64, dtype=np.float64)
                    coef[_JPEG_ZIGZAG] = zz * qt
                    block = _IDCT_C.T @ coef.reshape(8, 8) @ _IDCT_C
                    sl[:] = np.clip(
                        np.round(block) + shift, 0, maxv
                    ).astype(out_dtype)
    return planes, [(h_i, v_i) for h_i, v_i, _, _, _ in comps], hmax, vmax


COLOR_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("container", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sampling", T.IntegerType(), True),  # Y HiVi byte
        T.StructField("payload_sha", T.StringType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
    ]
)


def synthesize_color_media(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic COLOR media table: every image doc (doc_id % 3 == 0)
    becomes a real baseline 4:2:0 YCbCr JPEG (``jpeg_bytes_color`` over
    ``color_block_values``) carrying the document text in COM segments —
    same dims as ``synthesize_media`` (16 + id%64 x 16 + id%48)."""
    src = docs.filter((F.col(id_col) % 3) == 0).select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(text_col).alias("_text"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("media_id", "media_type", "payload", "width", "height",
                     "duration_ms")}
            for mid, text in zip(pdf["media_id"], pdf["_text"]):
                mid = int(mid)
                w, h = 16 + mid % 64, 16 + mid % 48
                payload = jpeg_bytes_color(
                    w, h, (text or "").encode("utf-8"),
                    *color_block_values(mid, w, h),
                )
                rows["media_id"].append(mid)
                rows["media_type"].append("image")
                rows["payload"].append(payload)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["duration_ms"].append(None)
            yield pd.DataFrame(rows)

    from smoltable_spark.functions.dedup import spread

    target = min(docs.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(src, target).mapInPandas(run, MEDIA_SCHEMA)


def synthesize_color12_media(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic 12-BIT COLOR media table (round 11): every image
    doc (doc_id % 3 == 0) becomes a real extended-sequential 12-bit
    4:2:0 YCbCr JPEG (``jpeg_bytes_color(precision=12)`` over
    ``color_block_values_12bit`` — SOF1 frame, Pq=1 16-bit DQTs,
    category-15 DC tables, samples in 0..4095) carrying the document
    text in COM segments — same dims as ``synthesize_media``."""
    src = docs.filter((F.col(id_col) % 3) == 0).select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(text_col).alias("_text"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("media_id", "media_type", "payload", "width", "height",
                     "duration_ms")}
            for mid, text in zip(pdf["media_id"], pdf["_text"]):
                mid = int(mid)
                w, h = 16 + mid % 64, 16 + mid % 48
                payload = jpeg_bytes_color(
                    w, h, (text or "").encode("utf-8"),
                    *color_block_values_12bit(mid, w, h),
                    precision=12,
                )
                rows["media_id"].append(mid)
                rows["media_type"].append("image")
                rows["payload"].append(payload)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["duration_ms"].append(None)
            yield pd.DataFrame(rows)

    from smoltable_spark.functions.dedup import spread

    target = min(docs.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(src, target).mapInPandas(run, MEDIA_SCHEMA)


def color_features(media: DataFrame) -> DataFrame:
    """Arrow-batched color decode + per-channel statistics: parse the
    container, fully decode the YCbCr scan (``jpeg_decode_color``), and
    return exact per-channel means (int64 pixel sums / pixel count — the
    numerators stay below 2^53 so the one double division is oracle-
    portable) plus the parsed sampling byte and the content sha. Same
    100 TB shape as ``extract_features``: payloads never leave the
    executor, 9 scalars per image come back."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("media_id", "container", "width", "height", "sampling",
                     "payload_sha", "mean_r", "mean_g", "mean_b")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                info = parse_container(bytes(payload) if payload is not None else b"")
                rgb = jpeg_decode_color(info)
                n = rgb.shape[0] * rgb.shape[1]
                sums = rgb.astype(np.int64).sum(axis=(0, 1))
                rows["media_id"].append(int(mid))
                rows["container"].append(info["container"])
                rows["width"].append(info["width"])
                rows["height"].append(info["height"])
                rows["sampling"].append(int(info["sof_comps"][0][1]))
                rows["payload_sha"].append(
                    hashlib.sha256(info["content"]).hexdigest()
                )
                rows["mean_r"].append(int(sums[0]) / n)
                rows["mean_g"].append(int(sums[1]) / n)
                rows["mean_b"].append(int(sums[2]) / n)
            yield pd.DataFrame(rows)

    from smoltable_spark.functions.dedup import spread

    target = min(media.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(media, target).mapInPandas(run, COLOR_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# CMYK / YCCK JPEG (round 10, VERDICT r9 ask #6): ncomp=4 frames with the
# Adobe APP14 transform byte — scanned PDFs and print-pipeline images in
# real crawls. Same oracle discipline: block-constant DC-only synthesis,
# 4:4:4 sampling (MCU = one block per component), closed-form decode.


def cmyk_block_values(
    mid: int, width: int, height: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Deterministic per-block 4-channel constants for media id ``mid``
    on the 4:4:4 block grid (bw = ceil(w/8), bh = ceil(h/8)): the first
    three channels reuse the color generator's formulas on the SAME
    grid (for YCCK fixtures they are the Y/Cb/Cr legs; for CMYK they
    are read as C/M/Y directly), plus K = (11*mid + idx + 29) % 256."""
    bw = (width + 7) // 8
    bh = (height + 7) // 8
    idx = np.arange(bh, dtype=np.int64)[:, None] * bw + np.arange(bw, dtype=np.int64)
    p0 = ((mid + idx) % 256).astype(np.uint8)
    p1 = ((3 * mid + idx + 101) % 256).astype(np.uint8)
    p2 = ((7 * mid + idx + 53) % 256).astype(np.uint8)
    p3 = ((11 * mid + idx + 29) % 256).astype(np.uint8)
    return p0, p1, p2, p3


def jpeg_bytes_cmyk(
    width: int,
    height: int,
    content: bytes,
    planes: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray],
    transform: int = 0,
) -> bytes:
    """Baseline 4-component JPEG from per-block CONSTANTS at 4:4:4
    (every component 1x1 — one block per component per MCU), with the
    Adobe APP14 marker carrying ``transform`` (0 = CMYK, 2 = YCCK).
    All components bind quant table 0 (unit) and Huffman tables 0, the
    common shape real CMYK encoders emit; blocks are DC-only, so the
    decode round-trip is exact and closed-form recomputable in SQL."""
    if transform not in (0, 2):
        raise ValueError(f"APP14 transform must be 0 (CMYK) or 2 (YCCK), got {transform}")
    bw = (width + 7) // 8
    bh = (height + 7) // 8
    for p in planes:
        if p.shape != (bh, bw):
            raise ValueError(f"plane blocks must be {(bh, bw)}, got {p.shape}")
    out = [b"\xff\xd8"]
    adobe = b"Adobe" + struct.pack(">HHHB", 0x64, 0, 0, transform)
    out += [b"\xff\xee", struct.pack(">H", 2 + len(adobe)), adobe]
    for off in range(0, max(len(content), 1), _JPEG_COM_MAX):
        chunk = content[off : off + _JPEG_COM_MAX]
        out += [b"\xff\xfe", struct.pack(">H", 2 + len(chunk)), chunk]
    dqt = b"\x00" + bytes([1] * 64)
    sof = struct.pack(">BHHB", 8, height, width, 4) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]
    )
    dht = b"".join(
        bytes([tc << 4]) + bytes(_JPEG_DC_BITS if tc == 0 else _JPEG_AC_BITS)
        + bytes(_JPEG_DC_VALS if tc == 0 else _JPEG_AC_VALS)
        for tc in (0, 1)
    )
    sos = b"\x04" + bytes([1, 0x00, 2, 0x00, 3, 0x00, 4, 0x00]) + b"\x00\x3f\x00"
    out += [
        b"\xff\xdb", struct.pack(">H", 2 + len(dqt)), dqt,
        b"\xff\xc0", struct.pack(">H", 2 + len(sof)), sof,
        b"\xff\xc4", struct.pack(">H", 2 + len(dht)), dht,
        b"\xff\xda", struct.pack(">H", 2 + len(sos)), sos,
    ]
    dc_codes = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)
    wr = _JpegBitWriter()
    preds = [0, 0, 0, 0]
    for mcu in range(bw * bh):
        mj, mi = divmod(mcu, bw)
        for ci in range(4):
            preds[ci] = _put_dc_only(
                wr, dc_codes, ac_codes, int(planes[ci][mj, mi]), preds[ci]
            )
    out += [wr.done(), b"\xff\xd9"]
    return b"".join(out)


def jpeg_bytes_progressive_cmyk(
    width: int,
    height: int,
    content: bytes,
    planes: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray],
    transform: int = 0,
) -> bytes:
    """PROGRESSIVE (SOF2) 4-component JPEG fixture (round 10, retiring
    the last codec gate): Adobe APP14 + one fully-INTERLEAVED ns=4 DC
    scan of per-block constants at 4:4:4 — with DC-only content every
    AC band is all-zero, so the single scan reconstructs the frame
    exactly (the decoder accumulates per-component coefficient planes;
    absent AC scans leave them zero, which IS the content)."""
    if transform not in (0, 2):
        raise ValueError(f"APP14 transform must be 0 (CMYK) or 2 (YCCK), got {transform}")
    bw = (width + 7) // 8
    bh = (height + 7) // 8
    for p in planes:
        if p.shape != (bh, bw):
            raise ValueError(f"plane blocks must be {(bh, bw)}, got {p.shape}")
    out = [b"\xff\xd8"]
    adobe = b"Adobe" + struct.pack(">HHHB", 0x64, 0, 0, transform)
    out += [b"\xff\xee", struct.pack(">H", 2 + len(adobe)), adobe]
    for off in range(0, max(len(content), 1), _JPEG_COM_MAX):
        chunk = content[off : off + _JPEG_COM_MAX]
        out += [b"\xff\xfe", struct.pack(">H", 2 + len(chunk)), chunk]
    dqt = b"\x00" + bytes([1] * 64)
    sof = struct.pack(">BHHB", 8, height, width, 4) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]
    )
    dht = b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    sos = b"\x04" + bytes([1, 0x00, 2, 0x00, 3, 0x00, 4, 0x00]) + b"\x00\x00\x00"
    out += [
        b"\xff\xdb", struct.pack(">H", 2 + len(dqt)), dqt,
        b"\xff\xc2", struct.pack(">H", 2 + len(sof)), sof,
        b"\xff\xc4", struct.pack(">H", 2 + len(dht)), dht,
        b"\xff\xda", struct.pack(">H", 2 + len(sos)), sos,
    ]
    dc_codes = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
    wr = _JpegBitWriter()
    preds = [0, 0, 0, 0]
    for mcu in range(bw * bh):
        mj, mi = divmod(mcu, bw)
        for ci in range(4):
            dc = 8 * (int(planes[ci][mj, mi]) - 128)
            diff = dc - preds[ci]
            preds[ci] = dc
            s = _jpeg_category(diff)
            code, length = dc_codes[s]
            wr.put(code, length)
            if s:
                wr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    out += [wr.done(), b"\xff\xd9"]
    return b"".join(out)


CMYK_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("container", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("ncomp", T.IntegerType(), True),
        T.StructField("transform", T.IntegerType(), True),
        T.StructField("payload_sha", T.StringType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
    ]
)


def synthesize_cmyk_media(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic 4-COMPONENT media table: every image doc (doc_id %
    3 == 0) becomes a real baseline CMYK/YCCK JPEG (``jpeg_bytes_cmyk``
    over ``cmyk_block_values``, APP14 transform alternating by doc
    parity: even media ids YCCK, odd CMYK) carrying the document text
    in COM segments — same dims as ``synthesize_media``."""
    src = docs.filter((F.col(id_col) % 3) == 0).select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(text_col).alias("_text"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("media_id", "media_type", "payload", "width", "height",
                     "duration_ms")}
            for mid, text in zip(pdf["media_id"], pdf["_text"]):
                mid = int(mid)
                w, h = 16 + mid % 64, 16 + mid % 48
                payload = jpeg_bytes_cmyk(
                    w, h, (text or "").encode("utf-8"),
                    cmyk_block_values(mid, w, h),
                    transform=2 if mid % 2 == 0 else 0,
                )
                rows["media_id"].append(mid)
                rows["media_type"].append("image")
                rows["payload"].append(payload)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["duration_ms"].append(None)
            yield pd.DataFrame(rows)

    from smoltable_spark.functions.dedup import spread

    target = min(docs.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(src, target).mapInPandas(run, MEDIA_SCHEMA)


def cmyk_features(media: DataFrame) -> DataFrame:
    """Arrow-batched 4-component decode + per-channel statistics:
    parse (incl. the APP14 transform), decode through the shared
    baseline color path + the CMYK/YCCK composite, return exact RGB
    means plus the parsed ncomp/transform and content sha. Same 100 TB
    shape as ``color_features``: payloads never leave the executor."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("media_id", "container", "width", "height", "ncomp",
                     "transform", "payload_sha", "mean_r", "mean_g",
                     "mean_b")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                info = parse_container(bytes(payload) if payload is not None else b"")
                rgb = jpeg_decode_color(info)
                n = rgb.shape[0] * rgb.shape[1]
                sums = rgb.astype(np.int64).sum(axis=(0, 1))
                rows["media_id"].append(int(mid))
                rows["container"].append(info["container"])
                rows["width"].append(info["width"])
                rows["height"].append(info["height"])
                rows["ncomp"].append(int(info["ncomp"]))
                rows["transform"].append(
                    None if info.get("adobe_transform") is None
                    else int(info["adobe_transform"])
                )
                rows["payload_sha"].append(
                    hashlib.sha256(info["content"]).hexdigest()
                )
                rows["mean_r"].append(int(sums[0]) / n)
                rows["mean_g"].append(int(sums[1]) / n)
                rows["mean_b"].append(int(sums[2]) / n)
            yield pd.DataFrame(rows)

    from smoltable_spark.functions.dedup import spread

    target = min(media.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(media, target).mapInPandas(run, CMYK_FEATURES_SCHEMA)


def _mcu_block_order(comps: list[tuple[int, int]], mw: int, mh: int):
    """Interleaved data-unit order (T.81 A.2.3): per MCU in raster
    order, for each component its Vi x Hi blocks in raster order.
    Yields (comp_index, by, bx) on each component's MCU-padded grid."""
    for mcu in range(mw * mh):
        mj, mi = divmod(mcu, mw)
        for ci, (h_i, v_i) in enumerate(comps):
            for r in range(v_i):
                for c in range(h_i):
                    yield ci, mj * v_i + r, mi * h_i + c


def _noninterleaved_grid(
    w: int, h: int, h_i: int, v_i: int, hmax: int, vmax: int
) -> tuple[int, int]:
    """(block-grid width, height) of a NON-interleaved scan for one
    component (T.81 A.2.2): ceil over the component's OWN sample dims
    ceil(w*Hi/Hmax) x ceil(h*Vi/Vmax) — SMALLER than the MCU-padded
    grid whenever that ceil is odd, so interleaved and non-interleaved
    scans of the same component cover different block sets; getting
    this wrong desynchronizes every later scan."""
    cw = (w * h_i + hmax - 1) // hmax
    ch = (h * v_i + vmax - 1) // vmax
    return (cw + 7) // 8, (ch + 7) // 8


def jpeg_bytes_progressive_color(
    width: int,
    height: int,
    content: bytes,
    y_plane: np.ndarray,
    cb_plane: np.ndarray,
    cr_plane: np.ndarray,
    sampling: tuple[int, int] = (2, 2),
    al: int = 1,
    precision: int = 8,
) -> bytes:
    """PROGRESSIVE (SOF2) COLOR JPEG (round 8b, retiring the last codec
    boundary): the standard multi-scan script real progressive encoders
    emit — one fully-INTERLEAVED DC first scan (ns=3, MCU order,
    per-component predictors, point transform ``al``), one
    NON-interleaved AC first scan per component (T.81 mandates ns=1
    for progressive AC; data units raster over the component's own
    grid) with EOBn band-end runs, then per precision level one
    interleaved DC refinement plus per-component AC refinements
    (G.1.2.3). Planes as in ``jpeg_bytes_color_pixels`` (Y full-res,
    chroma at subsampled dims). Full refinement reconstructs the exact
    rounded forward-DCT coefficients, so the progressive decode is
    BIT-IDENTICAL to the baseline decode of the same planes — the
    roundtrip contract mm_color_progressive pins. ``precision=12``
    (round 11) emits the 12-bit variant: samples in 0..4095, level
    shift 2048, Pq=1 16-bit DQTs, category-15 DC / size-14 AC tables."""
    if precision not in (8, 12):
        raise ValueError(f"precision must be 8 or 12, got {precision}")
    hy, vy = sampling
    mw = (width + 8 * hy - 1) // (8 * hy)
    mh = (height + 8 * vy - 1) // (8 * vy)
    comps = [(hy, vy), (1, 1), (1, 1)]
    planes = [
        _pad_plane(y_plane, mh * vy * 8, mw * hy * 8),
        _pad_plane(cb_plane, mh * 8, mw * 8),
        _pad_plane(cr_plane, mh * 8, mw * 8),
    ]
    lvl = float(1 << (precision - 1))
    coefs = [_fdct_coefs(p, lvl) for p in planes]
    if precision == 12:
        dc_spec = (_JPEG_DC12_BITS, _JPEG_DC12_VALS)
        ac_spec = (_JPEG_AC_PROG12_BITS, _JPEG_AC_PROG12_VALS)
    else:
        dc_spec = (_JPEG_DC_BITS, _JPEG_DC_VALS)
        ac_spec = (_JPEG_AC_PROG_BITS, _JPEG_AC_PROG_VALS)
    dc_codes = _huff_canonical(*dc_spec)
    ac_codes = _huff_canonical(*ac_spec)
    order = list(_mcu_block_order(comps, mw, mh))
    grids = [
        _noninterleaved_grid(width, height, h_i, v_i, hy, vy)
        for h_i, v_i in comps
    ]

    def dc_first(a: int) -> bytes:
        w = _JpegBitWriter()
        preds = [0, 0, 0]
        for ci, by, bx in order:
            cur = int(coefs[ci][by, bx, 0]) >> a
            diff = cur - preds[ci]
            preds[ci] = cur
            s = _jpeg_category(diff)
            code, length = dc_codes[s]
            w.put(code, length)
            if s:
                w.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        return w.done()

    def dc_refine(a: int) -> bytes:
        w = _JpegBitWriter()
        for ci, by, bx in order:
            w.put((int(coefs[ci][by, bx, 0]) >> a) & 1, 1)
        return w.done()

    def comp_views(ci: int) -> list:
        nbw, nbh = grids[ci]
        return [coefs[ci][by, bx] for by in range(nbh) for bx in range(nbw)]

    def sos_interleaved(ss: int, se: int, ah: int, a: int) -> list[bytes]:
        body = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, ss, se, (ah << 4) | a])
        return [b"\xff\xda", struct.pack(">H", 2 + len(body)), body]

    def sos_single(cid: int, ss: int, se: int, ah: int, a: int) -> list[bytes]:
        ta = 0 if cid == 1 else 1
        body = bytes([1, cid, (ta << 4) | ta, ss, se, (ah << 4) | a])
        return [b"\xff\xda", struct.pack(">H", 2 + len(body)), body]

    sof2 = struct.pack(">BHHB", precision, height, width, 3) + bytes(
        [1, (hy << 4) | vy, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    if precision == 12:
        unit16 = struct.pack(">64H", *([1] * 64))
        dqt = b"\x10" + unit16 + b"\x11" + unit16
    else:
        dqt = b"\x00" + bytes([1] * 64) + b"\x01" + bytes([1] * 64)
    dht = b"".join(
        bytes([(tc << 4) | th])
        + bytes(dc_spec[0] if tc == 0 else ac_spec[0])
        + bytes(dc_spec[1] if tc == 0 else ac_spec[1])
        for th in (0, 1)
        for tc in (0, 1)
    )
    out = [b"\xff\xd8"]
    for off in range(0, max(len(content), 1), _JPEG_COM_MAX):
        chunk = content[off : off + _JPEG_COM_MAX]
        out += [b"\xff\xfe", struct.pack(">H", 2 + len(chunk)), chunk]
    out += [
        b"\xff\xdb", struct.pack(">H", 2 + len(dqt)), dqt,
        b"\xff\xc2", struct.pack(">H", 2 + len(sof2)), sof2,
        b"\xff\xc4", struct.pack(">H", 2 + len(dht)), dht,
    ]
    out += sos_interleaved(0, 0, 0, al) + [dc_first(al)]
    for cid in (1, 2, 3):
        out += sos_single(cid, 1, 63, 0, al) + [
            _emit_ac_first(comp_views(cid - 1), ac_codes, al)
        ]
    for a in range(al, 0, -1):  # refinement rounds, coarse -> fine
        out += sos_interleaved(0, 0, a, a - 1) + [dc_refine(a - 1)]
        for cid in (1, 2, 3):
            out += sos_single(cid, 1, 63, a, a - 1) + [
                _emit_ac_refine(comp_views(cid - 1), ac_codes, a - 1)
            ]
    out.append(b"\xff\xd9")
    return b"".join(out)


def _jpeg_decode_progressive_color_planes(
    info: dict,
) -> tuple[list[np.ndarray], list[tuple[int, int]], int, int]:
    """PROGRESSIVE (SOF2) COLOR decode to MCU-padded planes: DC scans
    either fully interleaved in MCU order or single-component
    (restarts count MCUs resp. data units, resetting the scan's
    predictors), AC scans single-component over the component's OWN
    non-interleaved grid (T.81 A.2.2), spectral selection with EOBn
    runs AND full successive approximation exactly as the grayscale
    progressive path; one dequant + IDCT pass renders the accumulated
    coefficients per component."""
    w, h = info["width"], info["height"]
    sof = info["sof_comps"]
    samp = {cid: (hv >> 4, hv & 0xF) for cid, hv, _tq in sof}
    hmax = max(hv >> 4 for _c, hv, _t in sof)
    vmax = max(hv & 0xF for _c, hv, _t in sof)
    mw = (w + 8 * hmax - 1) // (8 * hmax)
    mh = (h + 8 * vmax - 1) // (8 * vmax)
    coefs = {
        cid: np.zeros((mh * v_i, mw * h_i, 64), dtype=np.int64)
        for cid, (h_i, v_i) in samp.items()
    }
    if not info.get("scans"):
        raise ValueError("progressive JPEG without any scan")
    for scan in info["scans"]:
        sos = scan["sos"]
        ss, se = sos["ss"], sos["se"]
        ah, a = sos["ahal"] >> 4, sos["ahal"] & 0xF
        segments = scan["segments"] or [b""]
        dri = int(scan.get("dri") or 0)
        if len(segments) > 1 and dri == 0:
            raise ValueError("JPEG restart markers present without DRI")
        if ss == 0:
            if se != 0:
                raise ValueError(
                    "progressive DC scan must carry the DC band alone"
                )
            if sos["ns"] > 1:
                scomps = [(cid, *samp[cid]) for cid, _td, _ta in sos["comps"]]
                order = [
                    (cid, mj * v_i + r, mi * h_i + c)
                    for mcu in range(mw * mh)
                    for mj, mi in [divmod(mcu, mw)]
                    for cid, h_i, v_i in scomps
                    for r in range(v_i)
                    for c in range(h_i)
                ]
                blocks_per_mcu = sum(h_i * v_i for _c, h_i, v_i in scomps)
            else:
                cid = sos["comps"][0][0]
                nbw, nbh = _noninterleaved_grid(w, h, *samp[cid], hmax, vmax)
                order = [
                    (cid, by, bx) for by in range(nbh) for bx in range(nbw)
                ]
                blocks_per_mcu = 1  # non-interleaved: DRI counts data units
            _decode_dc_scan(
                [(cid, coefs[cid][by, bx]) for cid, by, bx in order],
                {
                    cid: _huff_decode_table(*scan["dht"][(0, td)])
                    for cid, td, _ta in sos["comps"]
                }
                if ah == 0 else {},
                segments, dri * blocks_per_mcu, ah, a,
            )
            continue
        if sos["ns"] != 1:
            raise ValueError("progressive AC scan must be single-component")
        cid, _td, ta = sos["comps"][0]
        nbw, nbh = _noninterleaved_grid(w, h, *samp[cid], hmax, vmax)
        _decode_ac_scan(
            [coefs[cid][by, bx] for by in range(nbh) for bx in range(nbw)],
            _huff_decode_table(*scan["dht"][(1, ta)]),
            segments, dri, ss, se, ah, a,
        )
    precision = int(info.get("precision") or 8)
    shift = 1 << (precision - 1)
    maxv = (1 << precision) - 1
    out_dtype = np.uint8 if precision == 8 else np.uint16
    planes = []
    hvs = []
    for cid, hv, tq in sof:
        h_i, v_i = hv >> 4, hv & 0xF
        qt = info["dqt"][tq]
        plane = np.zeros((mh * v_i * 8, mw * h_i * 8), dtype=out_dtype)
        carr = coefs[cid]
        for by in range(carr.shape[0]):
            for bx in range(carr.shape[1]):
                coef = np.zeros(64, dtype=np.float64)
                coef[_JPEG_ZIGZAG] = carr[by, bx] * qt
                block = _IDCT_C.T @ coef.reshape(8, 8) @ _IDCT_C
                plane[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] = np.clip(
                    np.round(block) + shift, 0, maxv
                ).astype(out_dtype)
        planes.append(plane)
        hvs.append((h_i, v_i))
    return planes, hvs, hmax, vmax


def progressive_color_roundtrip(media: DataFrame) -> DataFrame:
    """Decode -> re-encode PROGRESSIVE COLOR (SOF2, al=1 successive
    approximation) -> re-decode, per color JPEG (round 8b): the
    acceptance harness for the progressive color path. Baseline-decoded
    NATIVE YCbCr planes (``jpeg_decode_ycbcr`` — re-encoding from
    upsampled RGB would double-convert) are re-encoded as the full
    interleaved-DC / per-component-AC multi-scan script and decoded
    again through ``_jpeg_decode_progressive_color_planes``; ``n_exact``
    counts pixels whose RGB triple is identical between the two decodes
    (full refinement reconstructs the shared coefficients exactly, so
    the contract is n_exact == n_px) and the per-channel sums of the
    progressive decode are generator-recomputable. 100 TB shape: one
    Arrow pass, 7 scalars out per image."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("media_id", "width", "height", "n_px", "n_exact",
                    "sum_r", "sum_g", "sum_b")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                info = parse_container(bytes(payload) if payload is not None else b"")
                if info["container"] != "jpeg" or info.get("ncomp") != 3:
                    continue
                # one entropy decode serves both the RGB reference and
                # the native planes (the Huffman+IDCT pass dominates
                # this query's cost; decoding twice would double it)
                planes, hvs, hmax, vmax = _decode_color_planes(info)
                w0, h0 = info["width"], info["height"]
                base_rgb = _planes_to_rgb(planes, hvs, hmax, vmax, w0, h0)
                yp, cbp, crp = _native_planes(planes, hvs, hmax, vmax, w0, h0)
                prog = jpeg_bytes_progressive_color(
                    w0, h0, info["content"],
                    yp, cbp, crp, sampling=hvs[0], al=1,
                )
                prog_rgb = jpeg_decode_color(parse_container(prog))
                n_px = info["width"] * info["height"]
                n_exact = int((base_rgb == prog_rgb).all(axis=-1).sum())
                sums = prog_rgb.astype(np.int64).sum(axis=(0, 1))
                out["media_id"].append(int(mid))
                out["width"].append(info["width"])
                out["height"].append(info["height"])
                out["n_px"].append(n_px)
                out["n_exact"].append(n_exact)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
            yield pd.DataFrame(out)

    from smoltable_spark.functions.dedup import spread

    target = min(media.sparkSession.sparkContext.defaultParallelism, 8)
    return spread(media, target).mapInPandas(
        run,
        "media_id long, width int, height int, n_px long, n_exact long, "
        "sum_r long, sum_g long, sum_b long",
    )
