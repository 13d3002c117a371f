"""Stdlib+numpy baseline JPEG codec — the reference's ACTUAL corpus
format, decode → resize → encode, with zero third-party codec
dependencies.

The reference pipeline is cv2 JPEG decode / resize / re-encode at
quality 65 (/root/reference/test.py:44-59) over baseline SOF0 4:2:0
photos (648×490, verified against the fixture corpus). The BMP (m12),
PNG (m14) and GIF (m17) codecs made raster, DEFLATE and dictionary
compression real in-container; this module completes the set with the
transform-coded format the reference actually stores: full baseline
JFIF — Huffman entropy coding, zigzag RLE, quantized 8×8 DCT, YCbCr
color, 4:2:0/4:2:2/4:4:4 sampling — implemented from the public JPEG
specification (ITU-T T.81: Annex K tables, canonical Huffman, the
IJG quality→quant-table scaling formula).

Decoder supports: baseline sequential DCT (SOF0), 8-bit precision,
1 or 3 components, sampling factors 1 or 2, restart intervals.
Progressive (SOF2), arithmetic coding, 12-bit, >2 sampling factors
return None — the caller's PIL seam (multimodal/image.py) may pick
those up where importable; nothing is ever misread.

Encoder emits: JFIF baseline, 4:4:4 (no chroma loss beyond
quantization), standard Annex K Huffman tables, quality via the IJG
scaling curve — deterministic bytes for fixed pixels, so encoded
output is stable across runs/partitions.

Entropy decoding of photo-sized scans is a lock-step numpy walk:
the scan is cut into bit lanes that all decode at once and
resynchronize (see _walk_lockstep); small scans, and scans that do not
synchronize, take the per-symbol Python walk over a peek-16 LUT, which
is also the parity oracle the lock-step walk is tested against. The
entropy coder builds every codeword in stream order with numpy and
packs them into words; the per-symbol _emit_block/_BitWriter path is
kept as its byte-parity oracle. DCT/IDCT, color transforms, sampling
and quantization are vectorized numpy over all blocks at once. In the
engine this runs inside Arrow-batched pandas UDFs (mapInPandas), so
the per-image cost parallelizes across executors exactly like the
real libjpeg path a deployment would plug into the same seam.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

# --------------------------------------------------------------------------
# Spec constants (ITU-T T.81 public standard)
# --------------------------------------------------------------------------

# zigzag scan order: ZIGZAG[k] = natural (row-major) index of the k-th
# zigzag position
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1/K.2 base quantization tables (natural order)
_BASE_Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_BASE_Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3-K.6 standard Huffman specs: (BITS[1..16], HUFFVAL)
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

# Decompression-bomb cap. Tighter than png.py's 90 MP because this
# decoder's PERSISTENT per-pixel footprint is larger: int32 coefficient
# grids (4 B) + float64 plane (8 B) per component ≈ 36 B/pixel for
# 4:4:4 color vs PNG's ~4 B — 24 MP bounds the decode at ~0.9 GB while
# still covering any sane photo corpus (the IDCT temporaries are
# chunk-bounded separately, see _decode_scan). Before that, the
# lock-step entropy walk holds ~70 B of scratch per scan byte (8 B of
# bit windows, a 1-2 B state stamp per bit, 13 B per recorded symbol at
# ~1.3 symbols per byte, then the joined records and triplets; measured
# 64-87 B on 0.12-1.7 MB photo scans) and lays out at most _UNIT_BYTES
# of scan per data unit; it is freed before the pixel planes exist.
_MAX_PIXELS = 24_000_000

# orthonormal DCT-II basis: _DCT_M[u, x] = a(u) cos((2x+1)uπ/16)
_DCT_M = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """(luma, chroma) quant tables at the IJG quality scaling."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    def _scaled(base: np.ndarray) -> np.ndarray:
        return np.clip((base * scale + 50) // 100, 1, 255)
    return _scaled(_BASE_Q_LUMA), _scaled(_BASE_Q_CHROMA)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for a canonical Huffman spec."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_lut(bits: list[int], vals: list[int]) -> np.ndarray:
    """Peek-16 decode LUT: lut[prefix16] = (symbol << 5) | code_length,
    or -1 for invalid prefixes. One table lookup per decoded symbol."""
    lut = np.full(1 << 16, -1, dtype=np.int32)
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            base = code << (16 - ln)
            lut[base : base + (1 << (16 - ln))] = (vals[k] << 5) | ln
            code += 1
            k += 1
        code <<= 1
    return lut


# --------------------------------------------------------------------------
# Header-level metadata
# --------------------------------------------------------------------------
def jpeg_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) from the first SOFn marker; header-only."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        return None
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            return None
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if i + 4 > n:
            return None
        seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                return None
            h = struct.unpack(">H", data[i + 5 : i + 7])[0]
            w = struct.unpack(">H", data[i + 7 : i + 9])[0]
            if w <= 0 or h <= 0:
                return None
            return (w, h)
        if marker == 0xDA:
            return None
        i += 2 + seg_len
    return None


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------
def _split_scan(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Destuff the entropy-coded scan from ``start``; split at RST
    markers. Returns (segments, pos_after_scan): the offset of the
    marker, 0xFF fill or trailing lone 0xFF that ends the scan, else
    len(data)."""
    arr = np.frombuffer(data, dtype=np.uint8)[start:]
    ff = np.flatnonzero(arr == 0xFF)
    # Every 0xFF before the scan's end opens a pair: a stuffed 0xFF00
    # or an RSTn. The first other pair, or a lone 0xFF as the last
    # byte (it reads itself as its second byte), ends the scan.
    nxt = arr[np.minimum(ff + 1, len(arr) - 1)]
    stuffed = nxt == 0x00
    stop = np.flatnonzero(~stuffed & ((nxt < 0xD0) | (nxt > 0xD7)))
    k = int(stop[0]) if len(stop) else len(ff)
    end = int(ff[k]) if k < len(ff) else len(arr)
    if not k:
        return [arr[:end].tobytes()], start + end
    ff, stuffed = ff[:k], stuffed[:k]
    keep = np.ones(end, dtype=bool)
    keep[ff + 1] = False
    marks = ff[~stuffed]
    keep[marks] = False
    # an RSTn's offset in the destuffed bytes: one byte is dropped per
    # stuffed pair before it and two per RSTn
    width = np.where(stuffed, 1, 2)
    cuts = marks - (np.cumsum(width) - width)[~stuffed]
    return [s.tobytes() for s in np.split(arr[:end][keep], cuts)], start + end


class _Huffman:
    """One DHT table, built once per distinct spec (see _huffman)."""

    __slots__ = ("lut", "peek", "max_sym")

    def __init__(self, bits: bytes, vals: bytes):
        self.lut = _decode_lut(list(bits), list(vals))
        self.lut.flags.writeable = False  # shared through the cache
        self.peek = memoryview(self.lut)  # the scalar walk's lookups
        self.max_sym = int(self.lut.max()) >> 5


@functools.lru_cache(maxsize=16)  # 256 KB each
def _huffman(bits: bytes, vals: bytes) -> _Huffman:
    return _Huffman(bits, vals)


def jpeg_decode(data: bytes) -> np.ndarray | None:
    """Baseline JPEG -> (h, w, 3) uint8 RGB, or None if unsupported or
    structurally broken. Never raises on hostile bytes."""
    try:
        return _decode_inner(bytes(data))
    except Exception:  # noqa: BLE001 — per-record guard, corrupt bytes → None
        return None


def _decode_inner(data: bytes) -> np.ndarray | None:
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _Huffman] = {}
    frame = None  # (w, h, comps) with comps = [(cid, hi, vi, tq)]
    restart = 0
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            return None
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
        seg = data[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT — possibly several tables per segment
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                if pq != 0:  # 16-bit tables: out of baseline scope
                    return None
                if p + 65 > len(seg):
                    return None
                qt[tq] = np.frombuffer(
                    seg[p + 1 : p + 65], dtype=np.uint8
                ).astype(np.int64)
                p += 65
        elif marker == 0xC4:  # DHT — possibly several tables
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = seg[p + 1 : p + 17]
                nv = sum(bits)
                vals = seg[p + 17 : p + 17 + nv]
                if len(vals) < nv:
                    return None
                huff[(tc, th)] = _huffman(bits, vals)
                p += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # baseline / ext sequential
            prec = seg[0]
            h = struct.unpack(">H", seg[1:3])[0]
            w = struct.unpack(">H", seg[3:5])[0]
            nc = seg[5]
            if prec != 8 or nc not in (1, 3) or w <= 0 or h <= 0:
                return None
            if w * h > _MAX_PIXELS:
                return None
            comps = []
            for c in range(nc):
                cid = seg[6 + 3 * c]
                hv = seg[7 + 3 * c]
                hi, vi = hv >> 4, hv & 15
                if hi not in (1, 2) or vi not in (1, 2):
                    return None
                comps.append((cid, hi, vi, seg[8 + 3 * c]))
            frame = (w, h, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # progressive / arithmetic / hierarchical
        elif marker == 0xDD:  # DRI
            restart = struct.unpack(">H", seg[0:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                return None
            ns = seg[0]
            scomp = []
            for c in range(ns):
                cs = seg[1 + 2 * c]
                td, ta = seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15
                scomp.append((cs, td, ta))
            segs, _ = _split_scan(data, i + 2 + seg_len)
            return _decode_scan(frame, scomp, qt, huff, restart, segs)
        i += 2 + seg_len
    return None


# --------------------------------------------------------------------------
# Entropy decoding
# --------------------------------------------------------------------------
# A scan decodes into (blk, kz, val) triplets: blk is the data unit's
# ordinal in scan order (MCU * units per MCU + unit), kz the zigzag index
# of the coefficient and val its value — for kz = 0 the DC difference
# to the previous unit of the same component.
#
# The lock-step walk (Weißenberger & Schmidt's self-synchronizing
# Huffman decoding, on numpy) splits every restart segment into lanes
# of a fixed number of bits and decodes all lanes at once, one symbol
# per lane per step. A lane's state between two symbols is
# q = unit * 64 + k (k: zigzag index of the unit's next coefficient, 0
# when its DC symbol is next). A segment's first lane enters at its
# first bit in state 0; every other lane starts from a guess — its first
# bit, state 0 — and then enters where its predecessor left, round
# after round (Jacobi), until no entry changes. Huffman codes
# resynchronize within a few symbols and the unit/k state within a few
# data units, so a re-decoded lane soon reaches a state its first
# trajectory passed through at the same bit; from there on both
# trajectories coincide, so it stops and keeps the first trajectory's
# exit and symbols.
_LANE_BAD = 1024  # lane states from here on: an invalid code was met
_ERR_DC, _ERR_AC = _LANE_BAD, _LANE_BAD + 1  # ... on a DC / an AC symbol
_ZRL, _EOB, _BAD = 17, 18, 19  # symbol classes, see _packed_lut
_UNIT_BYTES = 268  # >= 69 * 31 bits, see _walk_lockstep
_UNSYNCED = object()  # _walk_lockstep: let the scalar walk decide
# Jacobi rounds after which a scan counts as not synchronizing and is
# decoded by the scalar walk; measured photo scans need 2-6 at q50-q95
# and 12-14 at q100.
_MAX_ROUNDS = 16
# Below this many scan bytes the scalar walk is faster: the lock-step
# walk's fixed cost (~30 numpy calls per step, hundreds of steps)
# dominates (measured crossover ~10 KB).
_LOCKSTEP_MIN_BYTES = 12288


def _entropy_decode(segs, need, seg_base, unit_tabs):
    """Decode ``need[i]`` data units from each restart segment
    ``segs[i]``; units are numbered from ``seg_base[i]``. unit_tabs: the
    (DC, AC) _Huffman tables of each data unit of the MCU. Returns
    (blk, kz, val) or None on a corrupt stream."""
    # DC categories above 15 do not occur in 8-bit baseline; they would
    # not fit the walk's int16 values.
    if sum(len(s) for s in segs) >= _LOCKSTEP_MIN_BYTES and all(
        dc.max_sym <= 15 for dc, _ in unit_tabs
    ):
        res = _walk_lockstep(segs, need, seg_base, unit_tabs)
        if res is not _UNSYNCED:
            return res
    return _walk_scalar(segs, need, seg_base, [(dc.peek, ac.peek) for dc, ac in unit_tabs])


def _packed_lut(lut: np.ndarray, dc: bool) -> np.ndarray:
    """A peek-16 LUT as the lock-step walk reads it: prefix16 -> class
    | adv << 5 | mask << 11, where adv is the code length plus the value
    bits, mask covers the value bits, and class is 0 for a DC symbol,
    1 + run for an AC symbol with a value, _ZRL, _EOB (EOB and every
    other run/0 symbol: the scalar walk ends the block on them) or _BAD
    (no code)."""
    t = np.maximum(lut, 0).astype(np.intp)
    sym = t >> 5
    if dc:
        s, cls = sym, np.zeros_like(t)
    else:
        r, s = sym >> 4, sym & 15
        cls = np.where(s > 0, r + 1, np.where(r == 15, _ZRL, _EOB))
    return np.where(lut < 0, _BAD, cls | (((t & 31) + s) << 5) | (((1 << s) - 1) << 11))


@functools.lru_cache(maxsize=4)  # 0.5 MB per distinct Huffman table
def _lane_tables(unit_tabs: tuple) -> tuple[np.ndarray, ...]:
    """(lut, tab, nxt, emit) for the lock-step walk over MCUs whose data
    units decode with ``unit_tabs`` (DC, AC) _Huffman tables: ``lut``
    holds the packed LUTs one after another and ``tab[q]`` the offset of
    the one state q decodes with; ``nxt[q << 5 | class]`` is the state
    after a symbol of that class and ``emit[q << 5 | class]`` the zigzag
    index of the coefficient it carries (-1: none). Cached: an encoder
    writes the same tables into every file."""
    n_unit = len(unit_tabs)
    luts: list[tuple[_Huffman, bool]] = []
    tab = np.empty((n_unit, 64), dtype=np.intp)
    for u, (dc, ac) in enumerate(unit_tabs):
        for col, key in ((slice(0, 1), (dc, True)), (slice(1, 64), (ac, False))):
            if key not in luts:
                luts.append(key)
            tab[u, col] = luts.index(key) << 16
    q = np.arange(n_unit * 64, dtype=np.intp)[:, None]
    cls = np.arange(32, dtype=np.intp)[None, :]
    u, k = q >> 6, q & 63
    after = k + cls  # next k after a coefficient at k + cls - 1
    nxt_unit = (u + 1) % n_unit * 64
    valued = (cls >= 1) & (cls <= 16)
    nxt = np.select(
        [cls == 0, valued & (after < 64), valued & (after == 64), valued,
         (cls == _ZRL) & (k + 16 < 64), (cls == _ZRL) | (cls == _EOB),
         (cls == _BAD) & (k == 0)],
        [q + 1, q + cls, nxt_unit, _ERR_AC, q + 16, nxt_unit, _ERR_DC],
        _ERR_AC,
    )
    emit = np.select(
        [cls == 0, valued & (after <= 64)], [np.zeros_like(after), after - 1], -1
    ).astype(np.int8)
    out = (
        np.concatenate([_packed_lut(t.lut, dc) for t, dc in luts]),
        tab.ravel(), nxt.ravel(), emit.ravel(),
    )
    for a in out:
        a.flags.writeable = False
    return out


def _windows(buf: bytes) -> np.ndarray:
    """w[i] = buf[i : i + 8] as a big-endian int64 bit window."""
    n = len(buf) - 7
    w = np.empty(n, dtype=np.int64)
    for j in range(8):
        w[j::8] = np.frombuffer(buf, dtype=">i8", count=len(range(j, n, 8)), offset=j)
    return w


def _lanes(win, tables, p, q, end, stamp=None, merge=None, record=None):
    """Decode lanes in lock-step, lane i from bit p[i] in state q[i],
    until its bit position reaches end[i] or it meets an invalid code.

    stamp: write each symbol's starting state at its bit position.
    merge: stop a lane as soon as its state equals merge[p] (it has
        joined the trajectory stamped there).
    record: a list to append one (lane, p, dcs, kz, val) tuple per step
        to: the symbol's bit position, the lane's DC symbols so far
        (this one included), the zigzag index of the coefficient it
        carries (-1: none) and its value.

    Returns the lanes' exit (or joining) positions and states, their DC
    symbol counts, and which lanes joined. The lane state is intp (numpy
    converts narrower indices on every gather); records are narrowed to
    13 bytes per symbol."""
    lut, tab, nxt, emit = tables
    n = len(p)
    xp, xq = p.copy(), q.copy()
    xdc = np.zeros(n, dtype=np.int16)  # a lane holds < 2^15 data units
    joined = np.zeros(n, dtype=bool)
    ids = np.arange(n)
    dcs = xdc.copy()
    while len(ids):
        done = (p >= end) | (q >= _LANE_BAD)
        if merge is not None:
            hit = merge.take(p) == q
            hit &= ~done
            joined[ids.compress(hit)] = True
            done |= hit
        if done.any():
            d = ids.compress(done)
            xp[d], xq[d], xdc[d] = p.compress(done), q.compress(done), dcs.compress(done)
            go = ~done
            ids, p, q, end, dcs = (a.compress(go) for a in (ids, p, q, end, dcs))
            if not len(ids):
                break
        if stamp is not None:
            stamp[p] = q
        w = win.take(p >> 3) << (p & 7)
        e = lut.take(((w >> 48) & 0xFFFF) | tab.take(q))
        q1 = (q << 5) | (e & 31)
        adv = (e >> 5) & 63
        if record is not None:
            mask = e >> 11
            raw = (w >> (64 - adv)) & mask
            kz = emit.take(q1)
            dcs = dcs + (kz == 0)
            val = raw - (raw <= (mask >> 1)) * mask
            record.append(
                (ids.astype(np.int32), p.astype(np.int32), dcs, kz, val.astype(np.int16))
            )
        p = p + adv
        q = nxt.take(q1)
    return xp, xq, xdc, joined


def _walk_lockstep(segs, need, seg_base, unit_tabs):
    """The lock-step walk: (blk, kz, val) as _walk_scalar returns it,
    None on a corrupt stream, or _UNSYNCED when the scalar walk must
    decide (no synchronization, or a segment's end was reached before
    its data units)."""
    tables = _lane_tables(tuple(unit_tabs))
    # A data unit is at most 69 symbols of at most 31 bits, so neither
    # walk reads (or peeks 16 bits) past _UNIT_BYTES per unit plus 8:
    # bytes beyond are not laid out. Segments are laid out one after
    # another, each followed by 16 bytes of 0xFF: reading past its end
    # yields 1-bits, as in the scalar walk.
    segs = [s[: n * _UNIT_BYTES + 8] for s, n in zip(segs, need.tolist())]
    nbytes = np.array([len(s) for s in segs], dtype=np.intp)
    seg_off = 8 * np.concatenate(([0], np.cumsum(nbytes + 16)[:-1]))
    total = int(seg_off[-1] + 8 * (nbytes[-1] + 16))
    if total >= 1 << 31:  # records hold bit positions as int32
        return _UNSYNCED
    lane_bits = _lane_bits(8 * int(nbytes.sum()), int(need.sum()))
    n_lane = np.maximum(1, -(-8 * nbytes // lane_bits))
    lane_seg = np.repeat(np.arange(len(segs)), n_lane)
    first = np.concatenate(([0], np.cumsum(n_lane)[:-1]))
    last = first + n_lane - 1
    n = len(lane_seg)
    start = seg_off[lane_seg] + (np.arange(n) - first[lane_seg]) * lane_bits
    end = start + lane_bits
    end[last] = seg_off + 8 * nbytes + 64
    win = _windows(b"".join(s + b"\xff" * 16 for s in segs) + b"\xff" * 8)
    # one state per bit; the dtype's maximum is no state
    dt = np.dtype(np.uint8 if len(unit_tabs) <= 3 else np.int16)
    stamp = np.full(total, np.iinfo(dt).max, dtype=dt)

    # Round 0 decodes every lane from its guess, stamping and recording
    # its trajectory. Each later round re-decodes the lanes whose entry
    # changed, recording until they join their round-0 trajectory; the
    # last decode of a lane is from its final, exact entry. Per lane:
    # that round, where it joined (never: past every bit), its DC
    # symbols until then, and its exit.
    recs: list[tuple[np.ndarray, list]] = [(np.arange(n), [])]
    x0p, x0q, n0, _ = _lanes(win, tables, start, np.zeros(n, np.intp), end,
                             stamp=stamp, record=recs[0][1])
    ep, eq = start.copy(), np.zeros(n, dtype=np.intp)
    xp, xq = x0p.copy(), x0q.copy()
    last_round = np.zeros(n, dtype=np.intp)
    join = start.copy()
    ndc = np.zeros(n, dtype=np.intp)
    follows = np.ones(n, dtype=bool)
    follows[first] = False
    follows = follows[1:]
    for rnd in range(1, _MAX_ROUNDS + 1):
        # a lane behind an invalid code keeps its entry: that exit has
        # no position, and if it is on the true path the scan is corrupt
        take = follows & (xq[:-1] < _LANE_BAD)
        tp = np.where(take, xp[:-1], ep[1:])
        tq = np.where(take, xq[:-1], eq[1:])
        ch = np.flatnonzero((tp != ep[1:]) | (tq != eq[1:]))
        if not len(ch):
            break
        lanes = ch + 1
        ep[lanes], eq[lanes] = tp[ch], tq[ch]
        recs.append((lanes, []))
        mp, mq, mdc, hit = _lanes(win, tables, ep[lanes], eq[lanes], end[lanes],
                                  merge=stamp, record=recs[-1][1])
        last_round[lanes] = rnd
        join[lanes] = np.where(hit, mp, np.iinfo(np.intp).max)
        ndc[lanes] = mdc
        xp[lanes] = np.where(hit, x0p[lanes], mp)
        xq[lanes] = np.where(hit, x0q[lanes], mq)
    else:
        return _UNSYNCED

    # Round-0 symbols from the joining bit on belong to the true path,
    # after the lane's last decode.
    ids0, p0, c0, kz0, v0 = (np.concatenate(col) for col in zip(*recs[0][1]))
    recs[0][1].clear()
    kept = p0 >= join.take(ids0)
    del p0
    skipped_dc = np.bincount(ids0[~kept & (kz0 == 0)], minlength=n)
    tail_dc = np.where(join < np.iinfo(np.intp).max, n0 - skipped_dc, 0)
    before = np.cumsum(ndc + tail_dc) - (ndc + tail_dc)
    base = seg_base[lane_seg] + before - before[first][lane_seg]

    # Where each segment's true path stops: its first lane that met an
    # invalid code, else its last lane.
    total_dc = ndc + tail_dc
    bad = xq >= _LANE_BAD
    stop = last.copy()
    bad_lanes = np.flatnonzero(bad)
    if len(bad_lanes):
        s_bad, at = np.unique(lane_seg[bad_lanes], return_index=True)
        stop[s_bad] = bad_lanes[at]
    done = base[stop] - seg_base + total_dc[stop] - np.where(
        bad[stop], xq[stop] == _ERR_AC, (xq[stop] & 63) != 0
    )
    short = done < need
    if (short & bad[stop]).any():
        return None
    if short.any():
        return _UNSYNCED
    # a record's data unit is base + DC symbols so far - 1; units past
    # the segment's need, and lanes past its stop, are not on the path
    limit = np.where(np.arange(n) <= stop[lane_seg], (seg_base + need)[lane_seg], -1)
    parts = []
    for rnd, (lanes, rec) in enumerate(recs):
        if rnd and not rec:
            continue
        if rnd:
            ids, _, c, kz, v = (np.concatenate(col) for col in zip(*rec))
            rec.clear()
            ids = lanes.take(ids)
            keep = last_round.take(ids) == rnd
            blk = (base - 1).take(ids) + c
        else:
            ids, c, kz, v, keep = ids0, c0, kz0, v0, kept
            blk = (base - 1 + ndc - skipped_dc).take(ids) + c
        keep &= kz >= 0
        keep &= blk < limit.take(ids)
        parts.append((blk.compress(keep), kz.compress(keep), v.compress(keep)))
        del ids, c, kz, v, keep, blk
    ids0 = c0 = kz0 = v0 = kept = None  # free the records before joining
    return tuple(np.concatenate(col) for col in zip(*parts))


def _lane_bits(scan_bits: int, units: int) -> int:
    """Bits per lane: about 8 data units' worth of the scan, at least
    256. Lanes resynchronize mostly at block ends, so a lane must span a
    few data units to rejoin within itself; shorter lanes mean fewer
    lock-step steps per pass. Measured on 36 KB-1.7 MB photo scans at
    q50-q100 (17-240 bits per unit): as fast as the best fixed length
    within noise, and q100 scans synchronize in 12-14 rounds where fixed
    256-bit lanes need more than _MAX_ROUNDS."""
    return max(256, 8 * scan_bits // units // 64 * 64)


def _walk_scalar(segs, need, seg_base, units):
    """The per-symbol walk: the reference the lock-step walk must equal,
    and its fallback. units: the (DC, AC) peek-16 LUTs of each data unit
    of the MCU."""
    n_unit = len(units)
    tri_b: list[int] = []
    tri_k: list[int] = []
    tri_v: list[int] = []
    for seg, n_blk, b0 in zip(segs, need.tolist(), seg_base.tolist()):
        data, ld, pos, acc, nb = seg, len(seg), 0, 0, 0
        for bi in range(b0, b0 + n_blk):
            dc_lut, ac_lut = units[(bi - b0) % n_unit]
            # --- DC ---
            if nb < 16:
                while nb <= 24:
                    if pos < ld:
                        acc = (acc << 8) | data[pos]
                        pos += 1
                    else:
                        acc = (acc << 8) | 0xFF
                    nb += 8
            t = dc_lut[(acc >> (nb - 16)) & 0xFFFF]
            if t < 0:
                return None
            nb -= t & 31
            acc &= (1 << nb) - 1
            s = t >> 5
            diff = 0
            if s:
                if nb < s:
                    while nb <= 24:
                        if pos < ld:
                            acc = (acc << 8) | data[pos]
                            pos += 1
                        else:
                            acc = (acc << 8) | 0xFF
                        nb += 8
                v = (acc >> (nb - s)) & ((1 << s) - 1)
                nb -= s
                acc &= (1 << nb) - 1
                diff = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
            tri_b.append(bi)
            tri_k.append(0)
            tri_v.append(diff)
            # --- AC ---
            k = 1
            while k < 64:
                if nb < 16:
                    while nb <= 24:
                        if pos < ld:
                            acc = (acc << 8) | data[pos]
                            pos += 1
                        else:
                            acc = (acc << 8) | 0xFF
                        nb += 8
                t = ac_lut[(acc >> (nb - 16)) & 0xFFFF]
                if t < 0:
                    return None
                nb -= t & 31
                acc &= (1 << nb) - 1
                rs = t >> 5
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += r
                if k > 63:
                    return None
                if nb < s:
                    while nb <= 24:
                        if pos < ld:
                            acc = (acc << 8) | data[pos]
                            pos += 1
                        else:
                            acc = (acc << 8) | 0xFF
                        nb += 8
                v = (acc >> (nb - s)) & ((1 << s) - 1)
                nb -= s
                acc &= (1 << nb) - 1
                tri_b.append(bi)
                tri_k.append(k)
                tri_v.append(v if v >= (1 << (s - 1)) else v - (1 << s) + 1)
                k += 1
    return (
        np.array(tri_b, dtype=np.int64),
        np.array(tri_k, dtype=np.int64),
        np.array(tri_v, dtype=np.int64),
    )


def _decode_scan(frame, scomp, qt, huff, restart, segs) -> np.ndarray | None:
    w, h, comps = frame
    if len(scomp) != len(comps):
        return None
    if len(comps) == 1:
        # T.81 §A.2.2: an Ns=1 scan is NON-INTERLEAVED — the MCU is a
        # single data unit and blocks come in the component's own
        # raster order, regardless of declared sampling factors (which
        # only govern interleaving/subsampling BETWEEN components).
        # Normalizing the lone component to 1x1 makes the interleaved
        # MCU walk below degenerate to exactly that raster order.
        cid, _hi, _vi, tq = comps[0]
        comps = [(cid, 1, 1, tq)]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for (cid, hi, vi, tq), (scs, td, ta) in zip(comps, scomp):
        if scs != cid or tq not in qt or (0, td) not in huff or (1, ta) not in huff:
            return None
    # The data units of one MCU in scan order: (component, block row
    # and column within the component's part of the MCU).
    units = [
        (ci, by, bx)
        for ci, (cid, hi, vi, tq) in enumerate(comps)
        for by in range(vi)
        for bx in range(hi)
    ]
    n_unit = len(units)
    n_mcu = mcux * mcuy
    per_seg = restart if restart else n_mcu
    n_seg = -(-n_mcu // per_seg)
    if len(segs) < n_seg:
        return None
    seg_base = np.arange(n_seg, dtype=np.int64) * (per_seg * n_unit)
    need = np.minimum(seg_base + per_seg * n_unit, n_mcu * n_unit) - seg_base
    unit_tabs = [
        (huff[(0, scomp[ci][1])], huff[(1, scomp[ci][2])]) for ci, _, _ in units
    ]
    coef = _entropy_decode(segs[:n_seg], need, seg_base, unit_tabs)
    if coef is None:
        return None
    blk, kz, val = coef

    # Per-component coefficient grids in MCU-padded block units, views
    # of one flat int32 buffer (baseline coefficients fit in 16 bits;
    # int32 halves the footprint of the naive int64 choice, and the
    # bomb-cap math above assumes it). addr[mcu, unit] is the offset of
    # that data unit's 64 coefficients in the buffer.
    shapes = [(mcuy * vi, mcux * hi) for _, hi, vi, _ in comps]
    offs = np.cumsum([0] + [by * bx * 64 for by, bx in shapes])
    flat = np.zeros(int(offs[-1]), dtype=np.int32)
    grids = [
        flat[offs[ci] : offs[ci + 1]].reshape(by, bx, 64)
        for ci, (by, bx) in enumerate(shapes)
    ]
    my, mx = np.divmod(np.arange(n_mcu, dtype=np.int64), mcux)
    addr = np.empty((n_mcu, n_unit), dtype=np.int64)
    for u, (ci, by, bx) in enumerate(units):
        _, hi, vi, _ = comps[ci]
        addr[:, u] = offs[ci] + ((my * vi + by) * (mcux * hi) + mx * hi + bx) * 64
    flat[addr.ravel().take(blk) + kz] = val
    # DC (overwriting the differences just written): every data unit
    # carries its difference to the previous unit of the same component;
    # predictions restart with each restart interval.
    dc = kz == 0
    diff = np.zeros(n_mcu * n_unit, dtype=np.int64)
    diff[blk.compress(dc)] = val.compress(dc)
    diff = diff.reshape(n_mcu, n_unit)
    seg_of_mcu = np.arange(n_mcu) // per_seg
    for ci in range(len(comps)):
        cols = [u for u, unit in enumerate(units) if unit[0] == ci]
        pred = np.cumsum(diff[:, cols].ravel()).reshape(n_mcu, len(cols))
        prior = np.concatenate(([0], pred[per_seg - 1 :: per_seg, -1]))
        flat[addr[:, cols]] = pred - prior[seg_of_mcu][:, None]

    planes = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        q = qt[tq]
        grid = grids[ci]
        by, bx, _ = grid.shape
        n_blk = by * bx
        # dequant + de-zigzag + IDCT in bounded CHUNKS: the float64
        # einsum temporaries are ~24 B/pixel, so chunking keeps the
        # transient peak at ~8 MB regardless of image size (the
        # _MAX_PIXELS cap then only has to budget the persistent
        # int32 grid + float64 plane, ~12 B/pixel/component).
        pix = np.empty((n_blk, 8, 8), dtype=np.float64)
        zz = grid.reshape(n_blk, 64)
        for lo in range(0, n_blk, 4096):
            hi_ = min(lo + 4096, n_blk)
            coeffs = zz[lo:hi_].astype(np.int64) * q[None, :]
            nat = np.zeros_like(coeffs)
            nat[:, ZIGZAG] = coeffs  # de-zigzag
            blocks = nat.reshape(-1, 8, 8).astype(np.float64)
            pix[lo:hi_] = _batched_8x8(blocks, _DCT_M.T, _DCT_M) + 128.0
        plane = (
            pix.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        # crop to the component's own resolution, then upsample
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        plane = plane[:ch, :cw]
        if hi != hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        if vi != vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        y = np.clip(planes[0], 0, 255)
        return np.repeat(y[:, :, None], 3, axis=2).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# Encoder (4:4:4 baseline JFIF)
# --------------------------------------------------------------------------
class _BitWriter:
    __slots__ = ("out", "acc", "n")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1s


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """(h, w) float plane → (n_blocks, 8, 8), edge-padded to 8-multiples."""
    h, w = plane.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    return (
        padded.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _batched_8x8(blocks: np.ndarray, left: np.ndarray, right: np.ndarray) -> np.ndarray:
    """left @ B @ right for every 8x8 block, as two flat (n*8, 8) GEMMs
    instead of a naive einsum contraction (~10x on large planes; the
    per-coefficient dot products are the same 8-term sums, only their
    association order differs — all consumers gate on thresholded
    fidelity, never on exact float identity)."""
    n = blocks.shape[0]
    c = (blocks.reshape(n * 8, 8) @ right).reshape(n, 8, 8)
    d = (c.transpose(0, 2, 1).reshape(n * 8, 8) @ left.T).reshape(n, 8, 8)
    return d.transpose(0, 2, 1)


def _encode_plane_coeffs(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Level-shift, forward DCT, quantize, zigzag: (n, 64) int coeffs."""
    blocks = _blocks_of(plane.astype(np.float64) - 128.0)
    freq = _batched_8x8(blocks, _DCT_M, _DCT_M.T)
    nat = freq.reshape(-1, 64)
    qnat = nat[:, ZIGZAG]  # to zigzag order first, q is kept in zigzag
    return np.round(qnat / q[None, :]).astype(np.int64)


def _emit_block(zz: np.ndarray, pred: int, dc_codes, ac_codes, bw: _BitWriter) -> int:
    dc = int(zz[0])
    diff = dc - pred
    s = abs(diff).bit_length()
    bw.write(*dc_codes[s])
    if s:
        v = diff if diff > 0 else diff + (1 << s) - 1
        bw.write(v, s)
    run = 0
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*ac_codes[0xF0])
            run -= 16
        s = abs(v).bit_length()
        bw.write(*ac_codes[(run << 4) | s])
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        bw.write(*ac_codes[0x00])  # EOB
    return dc


def _code_arrays(codes: dict[int, tuple[int, int]], size: int) -> tuple[np.ndarray, np.ndarray]:
    """Dict symbol -> (code, len) as two dense lookup arrays; absent
    symbols get length 0 (checked at emit time — the scalar path would
    KeyError on them, the vector path raises ValueError)."""
    c = np.zeros(size, dtype=np.int64)
    ln = np.zeros(size, dtype=np.int64)
    for sym, (code, length) in codes.items():
        c[sym] = code
        ln[sym] = length
    return c, ln


def _bit_length(v: np.ndarray) -> np.ndarray:
    """Vectorized int bit_length for |v| < 2^52: frexp's exponent is
    exactly floor(log2(v)) + 1 for v > 0 and 0 for v == 0 (values this
    small are exact in float64, so no boundary rounding)."""
    return np.frexp(np.abs(v).astype(np.float64))[1].astype(np.int64)


def _entropy_encode(coeffs: list[np.ndarray], tabs) -> bytes:
    """Vectorized baseline entropy coder: same symbol stream, same
    canonical codes, same MCU interleave, stuffing and 1-padding as the
    scalar _emit_block/_BitWriter path — byte-identical output (pinned
    by tests).

    Every Huffman item (codeword or appended value bits) becomes one
    (code, nbits) pair placed at its stream index by construction: a
    data unit's items start after all items of the units before it
    (block-major, component-minor), and within a unit come the DC code,
    the DC value bits, then per nonzero AC coefficient its ZRLs, symbol
    and value bits, then EOB. The items are then packed into 32-bit
    big-endian words."""
    n = coeffs[0].shape[0]
    ncomp = len(coeffs)
    per_comp = []
    counts = np.zeros((n, ncomp), dtype=np.int64)
    for ci, Z in enumerate(coeffs):
        (dc_c, dc_l), (ac_c, ac_l) = tabs[ci]
        # --- DC: diff vs previous block of the SAME component ---
        dc = Z[:, 0].astype(np.int64)
        diff = np.diff(dc, prepend=np.int64(0))
        s = _bit_length(diff)
        if int(s.max(initial=0)) >= len(dc_l) or (dc_l[s] == 0).any():
            raise ValueError("jpeg_encode: DC magnitude outside table")
        has = s > 0
        dv = np.where(diff > 0, diff, diff + np.left_shift(np.int64(1), s) - 1)
        # --- AC: run-length over k = 1..last, ZRL for runs > 15 ---
        flat = Z.reshape(-1)
        nz = (flat != 0).nonzero()[0]
        nz = nz[(nz & 63) != 0]
        nzb, k = nz >> 6, nz & 63
        first = np.ones(len(nzb), dtype=bool)
        first[1:] = nzb[1:] != nzb[:-1]
        run = k - np.where(first, 0, np.concatenate(([0], k[:-1]))) - 1
        zrl, rem = run // 16, run % 16
        av = flat[nz].astype(np.int64)
        sa = _bit_length(av)
        sym = (rem << 4) | sa
        if (ac_l[sym] == 0).any():
            raise ValueError("jpeg_encode: AC symbol outside table")
        va = np.where(av > 0, av, av + np.left_shift(np.int64(1), sa) - 1)
        last = np.zeros(n, dtype=np.int64)
        last[nzb] = k  # ascending k per block: final write is the max
        eob = last < 63
        # items per nonzero coefficient, and their offset within the unit
        width = zrl + 2
        excl = np.cumsum(width) - width
        excl -= excl[first][np.cumsum(first) - 1]
        counts[:, ci] = 1 + has + eob + np.bincount(nzb, weights=width, minlength=n).astype(np.int64)
        per_comp.append((s, dv, has, nzb, excl + has[nzb], zrl, sym, va, sa, eob))

    off = (np.cumsum(counts.ravel()) - counts.ravel()).reshape(n, ncomp)
    total = int(counts.sum())
    codes = np.empty(total, dtype=np.int64)
    lens = np.empty(total, dtype=np.int64)
    for ci, (s, dv, has, nzb, within, zrl, sym, va, sa, eob) in enumerate(per_comp):
        (dc_c, dc_l), (ac_c, ac_l) = tabs[ci]
        o = off[:, ci]
        codes[o], lens[o] = dc_c[s], dc_l[s]
        codes[o[has] + 1], lens[o[has] + 1] = dv[has], s[has]
        at = o[nzb] + 1 + within  # first ZRL, else the symbol
        zt = int(zrl.sum())
        if zt:
            zi = np.repeat(np.arange(len(zrl)), zrl)
            j = np.arange(zt, dtype=np.int64) - (np.cumsum(zrl) - zrl)[zi]
            codes[at[zi] + j], lens[at[zi] + j] = ac_c[0xF0], ac_l[0xF0]
        at = at + zrl
        codes[at], lens[at] = ac_c[sym], ac_l[sym]
        codes[at + 1], lens[at + 1] = va, sa
        e = o[eob] + counts[eob, ci] - 1
        codes[e], lens[e] = ac_c[0x00], ac_l[0x00]

    # Pack: item i's bits end at bit ends[i] of the stream. Shifted into
    # the 64 bits of its 32-bit word and the next one it cannot overflow
    # (offset < 32, length <= 16); items never overlap, so summing the
    # parts per word ORs them (exact in float64: each word is < 2^32).
    ends = np.cumsum(lens)
    nbits = int(ends[-1])
    pad = (-nbits) % 8  # flush pads with 1s
    starts = ends - lens
    word = starts >> 5
    v = codes.astype(np.uint64) << (64 - (starts & 31) - lens).astype(np.uint64)
    n_words = (nbits + pad + 31) // 32 + 1
    words = np.bincount(word, weights=(v >> 32).astype(np.float64), minlength=n_words)
    words[1:] += np.bincount(word, weights=(v & 0xFFFFFFFF).astype(np.float64), minlength=n_words)[:-1]
    by = words.astype(np.uint32).astype(">u4").view(np.uint8)[: (nbits + pad) // 8].copy()
    if pad:
        by[-1] |= (1 << pad) - 1
    ff = np.nonzero(by == 0xFF)[0]
    if len(ff):
        by = np.insert(by, ff + 1, 0)  # byte stuffing
    return by.tobytes()


def jpeg_encode(arr: np.ndarray, quality: int = 65) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JFIF bytes (4:4:4, Annex K
    Huffman, IJG quality scaling). Deterministic for fixed input."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.repeat(arr[:, :, None], 3, axis=2)
    h, w, _ = arr.shape
    if h < 1 or w < 1 or h > 65535 or w > 65535:
        raise ValueError("jpeg_encode: dims out of range")
    ql, qc = quant_tables(quality)
    # zigzag-ordered tables are what DQT stores and what the
    # quantizer divides by (coeffs are zigzagged before quantization)
    ql_z, qc_z = ql[ZIGZAG], qc[ZIGZAG]

    rgb = arr.astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    coeffs = [
        _encode_plane_coeffs(y, ql_z),
        _encode_plane_coeffs(cb, qc_z),
        _encode_plane_coeffs(cr, qc_z),
    ]

    dc_l = _canonical_codes(*_DC_LUMA)
    ac_l = _canonical_codes(*_AC_LUMA)
    dc_c = _canonical_codes(*_DC_CHROMA)
    ac_c = _canonical_codes(*_AC_CHROMA)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, tbl in ((0, ql_z), (1, qc_z)):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(
            int(v) for v in tbl
        )
    out += b"\xff\xc0" + struct.pack(">H", 17) + bytes([8])
    out += struct.pack(">HH", h, w) + bytes([3])
    out += bytes([1, 0x11, 0])  # Y: 1x1, qt 0
    out += bytes([2, 0x11, 1])  # Cb
    out += bytes([3, 0x11, 1])  # Cr
    for tc, th, (bits, vals) in (
        (0, 0, _DC_LUMA),
        (1, 0, _AC_LUMA),
        (0, 1, _DC_CHROMA),
        (1, 1, _AC_CHROMA),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">H", 12) + bytes([3])
    out += bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])

    dc_la = _code_arrays(dc_l, 17)
    ac_la = _code_arrays(ac_l, 256)
    dc_ca = _code_arrays(dc_c, 17)
    ac_ca = _code_arrays(ac_c, 256)
    tabs = [(dc_la, ac_la), (dc_ca, ac_ca), (dc_ca, ac_ca)]
    out += _entropy_encode(coeffs, tabs)
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _entropy_encode_scalar(coeffs: list[np.ndarray], dicts) -> bytes:
    """The original per-symbol reference path (_emit_block/_BitWriter),
    kept as the parity oracle for _entropy_encode: the vectorized coder
    must produce byte-identical streams (tests/test_multimodal_codecs)."""
    bw = _BitWriter()
    preds = [0, 0, 0]
    for i in range(coeffs[0].shape[0]):  # 4:4:4 → one block/component/MCU
        for ci in range(3):
            preds[ci] = _emit_block(coeffs[ci][i], preds[ci], *dicts[ci], bw)
    bw.flush()
    return bytes(bw.out)


def make_photo(width: int, height: int, seed: int = 0) -> np.ndarray:
    """Deterministic gradient test pixels — the same per-channel
    arithmetic the PNG/BMP corpora use (oracle-replayable)."""
    xs = np.arange(width, dtype=np.int64)[None, :]
    ys = np.arange(height, dtype=np.int64)[:, None]
    r = (seed * 29 + xs + ys) % 256
    g = (seed * 11 + xs * 3 + ys * 5) % 256
    b = (seed + xs * 7 + ys * 13) % 256
    return np.stack(
        [np.broadcast_to(c, (height, width)) for c in (r, g, b)], axis=2
    ).astype(np.uint8)
