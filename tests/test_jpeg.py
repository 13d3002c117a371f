"""Baseline JPEG codec (multimodal/jpeg.py) — the reference's actual
corpus format (/root/reference/test.py:44-59, cv2 jpg→jpg at Q=65),
exercised for real: spec-analytic round trips, hostile-byte guards,
decode of the genuine 4:2:0 reference fixtures, and the full
compress_pipeline replayed over the real photo corpus in-container.
"""

from __future__ import annotations

import contextlib
import glob
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from developing_img_etl_spark.multimodal import jpeg
from developing_img_etl_spark.multimodal.jpeg import (
    ZIGZAG,
    _AC_CHROMA,
    _AC_LUMA,
    _DC_CHROMA,
    _DC_LUMA,
    _BitWriter,
    _canonical_codes,
    _emit_block,
    _encode_plane_coeffs,
    jpeg_decode,
    jpeg_dims,
    jpeg_encode,
    make_photo,
    quant_tables,
)
from developing_img_etl_spark.multimodal.phash import make_textured

JPGS = sorted(glob.glob("/root/reference/compressed/**/*.jpg", recursive=True))


def test_uniform_block_analytic_roundtrip():
    """Uniform color: every AC coefficient is exactly 0, the DC error
    is bounded by q00/16 — decoded pixels must sit within ±2 of the
    input for every channel (spec arithmetic, no codec to compare)."""
    for v in (0, 1, 64, 128, 200, 254, 255):
        arr = np.full((24, 40, 3), v, dtype=np.uint8)
        dec = jpeg_decode(jpeg_encode(arr, 65))
        assert dec is not None and dec.shape == arr.shape
        assert int(np.abs(dec.astype(int) - int(v)).max()) <= 2, v


def test_gradient_roundtrip_bound_and_determinism():
    arr = make_photo(200, 120, seed=7)
    enc1 = jpeg_encode(arr, 65)
    enc2 = jpeg_encode(arr, 65)
    assert enc1 == enc2  # deterministic bytes
    assert jpeg_dims(enc1) == (200, 120)
    dec = jpeg_decode(enc1)
    assert dec is not None and dec.shape == (120, 200, 3)
    err = np.abs(dec.astype(int) - arr.astype(int))
    assert float(err.mean()) <= 12.0  # measured 8.07; sawtooth edges ring
    # higher quality must not be worse
    dec95 = jpeg_decode(jpeg_encode(arr, 95))
    assert float(np.abs(dec95.astype(int) - arr.astype(int)).mean()) <= float(
        err.mean()
    )


def test_odd_and_degenerate_dims():
    for w, h in ((13, 9), (1, 1), (8, 8), (17, 1), (1, 31), (65, 3)):
        a = make_photo(w, h, seed=3)
        d = jpeg_decode(jpeg_encode(a, 65))
        assert d is not None and d.shape == (h, w, 3), (w, h)


def test_quality_scaling_monotone():
    ql50, _ = quant_tables(50)
    ql90, _ = quant_tables(90)
    ql10, _ = quant_tables(10)
    assert (ql90 <= ql50).all() and (ql50 <= ql10).all()
    assert (quant_tables(100)[0] >= 1).all()


def test_hostile_bytes_guard_to_none():
    arr = make_photo(64, 48, seed=1)
    enc = jpeg_encode(arr, 65)
    assert jpeg_decode(b"") is None
    assert jpeg_decode(b"\xff\xd8-corrupt-jpeg-body") is None
    assert jpeg_decode(enc[: len(enc) // 2]) is None  # truncated scan
    junk = bytearray(enc)
    junk[30] ^= 0xFF  # smash a header byte
    res = jpeg_decode(bytes(junk))  # must not raise; None or pixels
    assert res is None or isinstance(res, np.ndarray)
    assert jpeg_dims(b"\x89PNG") is None


@pytest.mark.reference
@pytest.mark.skipif(not JPGS, reason="reference fixtures unavailable")
def test_real_420_reference_photo_decodes():
    """The genuine corpus: baseline SOF0, 2x2/1x1/1x1 sampling. The
    hand-rolled decoder must produce full-size plausible pixels."""
    data = open(JPGS[0], "rb").read()
    img = jpeg_decode(data)
    assert img is not None and img.shape == (490, 648, 3)
    # plausibility: non-constant, in-range, and self-consistent under
    # a high-quality re-encode through our own encoder (codec closure)
    assert img.std() > 10
    again = jpeg_decode(jpeg_encode(img, 95))
    assert again is not None
    assert float(np.abs(again.astype(int) - img.astype(int)).mean()) <= 4.0


@pytest.mark.reference
@pytest.mark.skipif(not JPGS, reason="reference fixtures unavailable")
def test_pil_cross_check_when_importable():
    """When PIL exists, our decode of a real photo must agree with
    PIL's (chroma upsampling differs — nearest vs fancy — so allow a
    small mean gap), and PIL must decode our encoder's output."""
    try:
        from PIL import Image
    except ImportError:
        pytest.skip("PIL not installed in this container")
    import io

    data = open(JPGS[0], "rb").read()
    ours = jpeg_decode(data)
    theirs = np.asarray(Image.open(io.BytesIO(data)).convert("RGB"))
    assert ours.shape == theirs.shape
    assert float(np.abs(ours.astype(int) - theirs.astype(int)).mean()) <= 3.0

    enc = jpeg_encode(make_photo(120, 80, seed=5), 65)
    pil_dec = np.asarray(Image.open(io.BytesIO(enc)).convert("RGB"))
    assert pil_dec.shape == (80, 120, 3)
    assert (
        float(
            np.abs(
                pil_dec.astype(int) - jpeg_decode(enc).astype(int)
            ).mean()
        )
        <= 2.0
    )


@pytest.mark.reference
@pytest.mark.skipif(not JPGS, reason="reference fixtures unavailable")
def test_reference_corpus_recompress_for_real(spark):
    """Replay the reference's production job (test.py:44-59) over its
    own photo corpus with the REAL codec end-to-end in-container:
    every one of the 24 jpgs decodes, recompresses at Q=65, and the
    output parses as a valid JFIF at the same dims (648×490 < 1024
    cap → resize is a no-op)."""
    from pyspark.sql import functions as F

    from developing_img_etl_spark.multimodal.image import (
        compress_pipeline,
        with_image_stats,
    )
    from developing_img_etl_spark.sources.binary import read_binary_dir

    files = read_binary_dir(spark, "/root/reference/compressed")
    out = with_image_stats(compress_pipeline(files), "content_out")
    rows = out.select("status", "width", "height", F.length("content_out").alias("n")).collect()
    assert len(rows) == 24
    assert all(r.status == "ok" for r in rows)
    assert all((r.width, r.height) == (648, 490) for r in rows)
    assert all(r.n > 1000 for r in rows)


def _gray_2x2_jpeg() -> tuple[bytes, np.ndarray]:
    """A one-component stream whose frame declares 2x2 sampling (the
    encoder only emits 4:4:4): blocks in the component's raster order."""
    gray = ((np.arange(16)[:, None] * 7 + np.arange(32)[None, :] * 3) % 256).astype(
        np.float64
    )
    ql, _ = quant_tables(65)
    ql_z = ql[ZIGZAG]
    coeffs = _encode_plane_coeffs(gray, ql_z)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes(int(v) for v in ql_z)
    out += b"\xff\xc0" + struct.pack(">H", 11) + bytes([8]) + struct.pack(">HH", 16, 32)
    out += bytes([1, 1, 0x22, 0])  # ONE component, 2x2 declared sampling
    for tc, th, (bits, vals) in ((0, 0, _DC_LUMA), (1, 0, _AC_LUMA)):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    bw = _BitWriter()
    dc = _canonical_codes(*_DC_LUMA)
    ac = _canonical_codes(*_AC_LUMA)
    pred = 0
    for i in range(coeffs.shape[0]):  # component raster order
        pred = _emit_block(coeffs[i], pred, dc, ac, bw)
    bw.flush()
    out += bw.out + b"\xff\xd9"
    return bytes(out), gray


def test_grayscale_2x2_sampling_is_non_interleaved():
    """T.81 §A.2.2: an Ns=1 scan is NON-INTERLEAVED — blocks arrive in
    the component's raster order even when the frame declares 2x2
    sampling. Require faithful pixels, not an MCU-scrambled image."""
    data, gray = _gray_2x2_jpeg()
    dec = jpeg_decode(data)
    assert dec is not None and dec.shape == (16, 32, 3)
    assert (dec[:, :, 0] == dec[:, :, 1]).all()  # gray replicated
    err = np.abs(dec[:, :, 0].astype(int) - gray.astype(int))
    assert float(err.mean()) <= 3.0  # scrambled MCU order scores ~4.6+


def test_vectorized_entropy_coder_matches_scalar_reference():
    """The r12 vectorized entropy coder (_entropy_encode) must emit a
    BYTE-IDENTICAL stream to the per-symbol reference path
    (_entropy_encode_scalar) — same symbols, same canonical codes, same
    interleave, stuffing and flush padding — across sizes, qualities
    and content seeds (including 1x1 and non-multiple-of-8 dims)."""
    from developing_img_etl_spark.multimodal.jpeg import (
        ZIGZAG,
        _AC_CHROMA,
        _AC_LUMA,
        _DC_CHROMA,
        _DC_LUMA,
        _canonical_codes,
        _code_arrays,
        _encode_plane_coeffs,
        _entropy_encode,
        _entropy_encode_scalar,
    )

    dc_l = _canonical_codes(*_DC_LUMA)
    ac_l = _canonical_codes(*_AC_LUMA)
    dc_c = _canonical_codes(*_DC_CHROMA)
    ac_c = _canonical_codes(*_AC_CHROMA)
    dicts = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    arrs = [
        (_code_arrays(dc_l, 17), _code_arrays(ac_l, 256)),
        (_code_arrays(dc_c, 17), _code_arrays(ac_c, 256)),
        (_code_arrays(dc_c, 17), _code_arrays(ac_c, 256)),
    ]
    for (w, h, seed, q) in [
        (1, 1, 0, 65), (7, 5, 2, 10), (16, 8, 1, 1), (96, 96, 7, 80),
        (129, 65, 4, 30), (200, 150, 11, 50), (64, 64, 9, 100),
    ]:
        img = make_photo(w, h, seed).astype(np.float64)
        r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        ql, qc = quant_tables(q)
        ql_z, qc_z = ql[ZIGZAG], qc[ZIGZAG]
        coeffs = [
            _encode_plane_coeffs(y, ql_z),
            _encode_plane_coeffs(cb, qc_z),
            _encode_plane_coeffs(cr, qc_z),
        ]
        assert _entropy_encode(coeffs, arrs) == _entropy_encode_scalar(
            coeffs, dicts
        ), (w, h, seed, q)


# --------------------------------------------------------------------------
# Lock-step entropy walk: parity with the scalar walk
# --------------------------------------------------------------------------
@contextlib.contextmanager
def _patched(**attrs):
    saved = {k: getattr(jpeg, k) for k in attrs}
    try:
        for k, v in attrs.items():
            setattr(jpeg, k, v)
        yield
    finally:
        for k, v in saved.items():
            setattr(jpeg, k, v)


def _decode_both(data: bytes, lane_bits: int | None = None):
    """Decode ``data`` with the lock-step walk, forced onto any scan size
    (optionally with a fixed lane length), and with the scalar walk.
    Returns (lock-step result, scalar result, whether the lock-step walk
    decided without falling back)."""
    decided = []
    real = jpeg._walk_lockstep

    def spy(*args):
        res = real(*args)
        decided.append(res is not jpeg._UNSYNCED)
        return res

    lanes = jpeg._lane_bits if lane_bits is None else (lambda bits, units: lane_bits)
    with _patched(_walk_lockstep=spy, _lane_bits=lanes, _LOCKSTEP_MIN_BYTES=0):
        fast = jpeg_decode(data)
    with _patched(_LOCKSTEP_MIN_BYTES=1 << 62):
        slow = jpeg_decode(data)
    return fast, slow, bool(decided) and all(decided)


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return a.dtype == b.dtype and a.shape == b.shape and np.array_equal(a, b)


def _sampled_jpeg(w: int, h: int, hy: int, vy: int, restart: int = 0,
                  quality: int = 75, seed: int = 3) -> bytes:
    """A hand-built interleaved baseline stream the encoder cannot emit:
    Y sampled hy x vy against 1x1 chroma (2x2: 4:2:0, 2x1: 4:2:2), with
    a restart marker every ``restart`` MCUs when given."""
    mcux, mcuy = -(-w // (8 * hy)), -(-h // (8 * vy))
    rgb = make_textured(mcux * 8 * hy, mcuy * 8 * vy, seed).astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = (-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0)[::vy, ::hy]
    cr = (0.5 * r - 0.418688 * g - 0.081312 * b + 128.0)[::vy, ::hy]
    ql, qc = quant_tables(quality)
    ql_z, qc_z = ql[ZIGZAG], qc[ZIGZAG]
    ys = _encode_plane_coeffs(y, ql_z).reshape(mcuy * vy, mcux * hy, 64)
    cs = [_encode_plane_coeffs(c, qc_z).reshape(mcuy, mcux, 64) for c in (cb, cr)]

    out = bytearray(b"\xff\xd8")
    for tq, tbl in ((0, ql_z), (1, qc_z)):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(int(v) for v in tbl)
    out += b"\xff\xc0" + struct.pack(">H", 17) + bytes([8]) + struct.pack(">HH", h, w)
    out += bytes([3, 1, (hy << 4) | vy, 0, 2, 0x11, 1, 3, 0x11, 1])
    for tc, th, (bits, vals) in ((0, 0, _DC_LUMA), (1, 0, _AC_LUMA),
                                 (0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA)):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    out += b"\xff\xda" + struct.pack(">H", 12) + bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    luma = (_canonical_codes(*_DC_LUMA), _canonical_codes(*_AC_LUMA))
    chroma = (_canonical_codes(*_DC_CHROMA), _canonical_codes(*_AC_CHROMA))
    bw = _BitWriter()
    preds = [0, 0, 0]
    for m in range(mcux * mcuy):
        if restart and m and m % restart == 0:
            bw.flush()
            out += bw.out + bytes([0xFF, 0xD0 + (m // restart - 1) % 8])
            bw = _BitWriter()
            preds = [0, 0, 0]
        my, mx = divmod(m, mcux)
        for by in range(vy):
            for bx in range(hy):
                preds[0] = _emit_block(ys[my * vy + by, mx * hy + bx], preds[0], *luma, bw)
        for ci in (1, 2):
            preds[ci] = _emit_block(cs[ci - 1][my, mx], preds[ci], *chroma, bw)
    bw.flush()
    return bytes(out + bw.out + b"\xff\xd9")


def _fuzz_bases() -> list[bytes]:
    return [
        jpeg_encode(make_textured(96, 64, 5), 75),
        _sampled_jpeg(80, 56, 2, 2),
        _sampled_jpeg(72, 40, 2, 1, restart=3),
    ]


def test_lockstep_matches_scalar_on_encoder_output():
    """1x1, odd and multi-lane sizes at q1-q100 equal the scalar walk.
    Up to q65 the lock-step walk decides on its own; these sawtooth
    images at q90+ may exhaust the round limit and go to the scalar
    walk."""
    for w, h in ((1, 1), (7, 5), (13, 9), (17, 1), (1, 31), (65, 3), (100, 37), (160, 96)):
        for q in (1, 10, 35, 65, 90, 100):
            for img in (make_photo(w, h, seed=w + q), make_textured(w, h, seed=q)):
                data = jpeg_encode(img, q)
                fast, slow, decided = _decode_both(data)
                assert decided or q > 65, (w, h, q)
                assert slow is not None and _same(fast, slow), (w, h, q)


@pytest.mark.parametrize(
    "hy,vy,restart",
    [(2, 2, 0), (2, 1, 0), (2, 2, 1), (2, 2, 5), (2, 1, 7), (1, 1, 4)],
)
def test_lockstep_matches_scalar_on_subsampled_and_restart_streams(hy, vy, restart):
    """4:2:0 and 4:2:2 interleaved MCUs, and DRI/RST segments (each one
    a lane entered in a known state), decode to the scalar walk's
    pixels."""
    for w, h in ((80, 56), (61, 33), (200, 120)):
        data = _sampled_jpeg(w, h, hy, vy, restart=restart)
        if restart:
            assert b"\xff\xd0" in data
        fast, slow, decided = _decode_both(data)
        assert decided, (w, h)
        assert slow is not None and slow.shape == (h, w, 3)
        assert _same(fast, slow), (w, h)


def test_lockstep_matches_scalar_on_non_interleaved_gray():
    data, _ = _gray_2x2_jpeg()
    fast, slow, decided = _decode_both(data, lane_bits=64)
    assert decided and slow is not None and _same(fast, slow)


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_lockstep_matches_scalar_under_corruption(data):
    """Bit flips and truncations anywhere in the stream: both walks give
    equal pixels or both give None."""
    base = data.draw(st.sampled_from(_FUZZ_BASES))
    buf = bytearray(base)
    if data.draw(st.booleans()):
        for _ in range(data.draw(st.integers(1, 4))):
            pos = data.draw(st.integers(0, len(buf) - 1))
            buf[pos] ^= 1 << data.draw(st.integers(0, 7))
    else:
        buf = buf[: data.draw(st.integers(0, len(buf)))]
    fast, slow, _ = _decode_both(bytes(buf))
    assert _same(fast, slow)


_FUZZ_BASES = _fuzz_bases()


def test_unsynchronized_scan_falls_back_to_scalar_walk():
    """A scan that has not synchronized after the round limit is decoded
    by the scalar walk, with the same result."""
    data = jpeg_encode(make_textured(160, 96, 9), 90)
    scalar_calls = []
    real_scalar = jpeg._walk_scalar

    def spy(*args):
        scalar_calls.append(1)
        return real_scalar(*args)

    with _patched(_MAX_ROUNDS=1, _walk_scalar=spy, _LOCKSTEP_MIN_BYTES=0,
                  _lane_bits=lambda bits, units: 64):
        forced = jpeg_decode(data)
    assert scalar_calls
    fast, slow, decided = _decode_both(data)
    assert decided and _same(forced, slow) and _same(fast, slow)


def test_lockstep_runs_by_default_on_photo_sized_scans():
    """The default thresholds put a photo-sized scan on the lock-step
    walk and a small one on the scalar walk."""
    calls = []
    real = jpeg._walk_lockstep

    def spy(*args):
        res = real(*args)
        calls.append(res is not jpeg._UNSYNCED)
        return res

    big = jpeg_encode(make_textured(320, 240, 4), 90)
    small = jpeg_encode(make_photo(40, 28, 3), 65)
    with _patched(_walk_lockstep=spy):
        assert jpeg_decode(small) is not None
        assert not calls
        dec = jpeg_decode(big)
    assert calls == [True]
    with _patched(_LOCKSTEP_MIN_BYTES=1 << 62):
        assert _same(dec, jpeg_decode(big))


def _split_scan_per_byte(data: bytes, start: int):
    """The per-byte destuffing loop _split_scan replaces (reference)."""
    segs = []
    cur = bytearray()
    i, n = start, len(data)
    while i < n:
        b = data[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        if i + 1 >= n:
            break
        m = data[i + 1]
        if m == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:
            break
    segs.append(bytes(cur))
    return segs, i


@settings(max_examples=400, deadline=None)
@given(
    st.lists(
        st.sampled_from([0x00, 0x01, 0x7F, 0xD0, 0xD7, 0xD8, 0xD9, 0xFF, 0xFF, 0xFF]),
        max_size=40,
    ),
    st.integers(0, 45),
)
def test_split_scan_matches_per_byte_loop(body, start):
    """Same segments and end offset as the per-byte loop, including a
    trailing lone 0xFF, 0xFF fill before a marker and RST runs."""
    data = bytes(body)
    assert jpeg._split_scan(data, start) == _split_scan_per_byte(data, start)
    for tail in (b"\xff", b"\xff\xff\xff\xd9", b"\xff\xd3\xff\x00\xff\xd9"):
        assert jpeg._split_scan(data + tail, start) == _split_scan_per_byte(data + tail, start)


def _wide_dc_jpeg(dc_top: int, seed: int = 0) -> bytes:
    """A one-component stream whose DC table has categories 0..dc_top
    (the encoder's Annex K table stops at 11) and whose DC differences
    use them all; AC values are sparse, up to category 10."""
    rng = np.random.default_rng(seed)
    n_blk = 24 * 16
    coeffs = np.zeros((n_blk, 64), dtype=np.int64)
    coeffs[:, 0] = np.cumsum(rng.integers(-(1 << dc_top) + 1, 1 << dc_top, n_blk)) % 30000 - 15000
    ac = rng.uniform(size=(n_blk, 63)) < 0.2
    coeffs[:, 1:] = np.where(ac, rng.integers(-1023, 1024, (n_blk, 63)), 0)
    bits = [0, 1, 2, 3, 4, 2, 2, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    vals = list(range(dc_top - 15, dc_top + 1))  # 16 categories
    dc_codes = _canonical_codes(bits, vals)
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) + bytes([1] * 64)
    out += b"\xff\xc0" + struct.pack(">H", 11) + bytes([8]) + struct.pack(">HH", 128, 192)
    out += bytes([1, 1, 0x11, 0])
    for tc, (b, v) in ((0, (bits, vals)), (1, _AC_LUMA)):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(v)) + bytes([tc << 4]) + bytes(b) + bytes(v)
    out += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    bw = _BitWriter()
    ac_codes = _canonical_codes(*_AC_LUMA)
    pred = 0
    for blk in coeffs:
        pred = _emit_block(blk, pred, dc_codes, ac_codes, bw)
    bw.flush()
    return bytes(out + bw.out + b"\xff\xd9")


def test_lockstep_covers_dc_categories_up_to_15():
    """DC categories 12-15 (hand-built tables) still take the lock-step
    walk and equal the scalar walk; a table with category 16 takes the
    scalar walk."""
    data = _wide_dc_jpeg(15)
    fast, slow, decided = _decode_both(data)
    assert decided and slow is not None and _same(fast, slow)
    calls = []
    with _patched(_walk_lockstep=lambda *a: calls.append(1), _LOCKSTEP_MIN_BYTES=0):
        assert jpeg_decode(_wide_dc_jpeg(16)) is not None
    assert not calls


def test_lockstep_ignores_bytes_past_the_last_data_unit():
    """Junk after the last data unit of a scan does not change the
    pixels, and the lock-step walk does not lay it out (it reads at most
    _UNIT_BYTES per data unit)."""
    base = jpeg_encode(make_textured(24, 16, 2), 80)
    junk = bytes(np.random.default_rng(0).integers(0, 0xFF, 50_000, dtype=np.uint8))
    data = base[:-2] + junk + b"\xff\xd9"
    laid_out = []
    real = jpeg._windows

    def spy(buf):
        laid_out.append(len(buf))
        return real(buf)

    with _patched(_windows=spy):
        fast, slow, decided = _decode_both(data)
    assert decided and _same(fast, slow) and _same(fast, jpeg_decode(base))
    units = 3 * 2 * 3  # 3x2 MCUs of Y, Cb, Cr
    assert laid_out and max(laid_out) <= units * jpeg._UNIT_BYTES + 32
