"""Lossless WebP (VP8L) codec tests: every bitstream feature the fixture
encoder can emit must round-trip bit-exactly through the real decoder, the
container walker must handle VP8X/odd-chunk layouts, lossy VP8 must land on
the labeled fake fallback, and untrusted dimension claims must be refused
before allocation.

The reference project (MaksimBrezho/logparserhelper) has no media path —
this pins the LLM-pipeline multimodal surface (SURVEY.md §2), same test
shape as the TIFF/PNG/JPEG matrices in test_functions.py.
"""

from __future__ import annotations

import struct
import time

import numpy as np
import pytest

from logparserhelper_spark.functions.webp import (
    MAX_WEBP_PIXELS,
    _BitWriter,
    encode_vp8l,
    make_webp_lossless,
    vp8l_decode,
    webp_decode_bgr,
)


def _rows(px: np.ndarray) -> list:
    return [[tuple(int(c) for c in px[y, x]) for x in range(px.shape[1])] for y in range(px.shape[0])]


def _pixels(mode: str, w: int, h: int, rng, ncolors: int = 5) -> np.ndarray:
    if mode == "random":
        return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    if mode == "palette":
        pal = rng.integers(0, 256, size=(ncolors, 3), dtype=np.uint8)
        return pal[rng.integers(0, ncolors, size=(h, w))]
    if mode == "smooth":
        px = np.zeros((h, w, 3), np.uint8)
        yy, xx = np.mgrid[0:h, 0:w]
        px[..., 0] = (xx * 2) % 256
        px[..., 1] = (yy * 2) % 256
        px[..., 2] = (xx + yy) % 256
        return px
    # "repeat": LZ77/color-cache friendly
    tile = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    return np.tile(tile, (h // 4 + 1, w // 4 + 1, 1))[:h, :w]


def _assert_roundtrip(px: np.ndarray, **kw) -> bytes:
    h, w = px.shape[:2]
    payload = make_webp_lossless(w, h, _rows(px), **kw)
    W, H, bpp, bgr = webp_decode_bgr(payload)
    assert (W, H) == (w, h), kw
    assert np.array_equal(bgr, px[..., 2::-1].astype(np.float64)), kw
    return payload


def test_vp8l_plain_and_transform_matrix():
    """Bit-exact round trips through each transform: subtract-green, all 14
    predictor modes (contiguous scan-order edge semantics), the color
    transform, and palette color-indexing at every sub-byte bundling width
    (1/2/4 bits per pixel and the unbundled >16-color case)."""
    rng = np.random.default_rng(11)
    _assert_roundtrip(_pixels("random", 37, 23, rng))
    _assert_roundtrip(_pixels("random", 1, 1, rng))
    _assert_roundtrip(_pixels("smooth", 40, 30, rng), use_subtract_green=True)
    for pred in range(14):
        _assert_roundtrip(_pixels("smooth", 33, 17, rng), predictor=pred, predictor_bits=2)
    _assert_roundtrip(_pixels("smooth", 40, 30, rng), color_cte=(3, -2, 5), color_bits=3)
    for ncolors in (2, 3, 12, 40):  # 1-bit / 2-bit / 4-bit bundling / none
        _assert_roundtrip(_pixels("palette", 40, 30, rng, ncolors=ncolors), palette=True)


def test_vp8l_lz77_cache_and_meta_prefix():
    """LZ77 backward references (with and without the 120-entry distance
    map), the color cache, meta-prefix tile images, and the combined
    everything-on bitstream all round-trip bit-exactly."""
    rng = np.random.default_rng(13)
    rep = _pixels("repeat", 48, 48, rng)
    _assert_roundtrip(rep, use_lz77=True)
    _assert_roundtrip(rep, use_lz77=True, use_distance_map=True)
    _assert_roundtrip(rep, cache_bits=4)
    _assert_roundtrip(rep, use_lz77=True, cache_bits=6)
    _assert_roundtrip(_pixels("random", 48, 48, rng), meta_bits=3)
    _assert_roundtrip(rep, use_lz77=True, cache_bits=6, meta_bits=3, use_distance_map=True)
    _assert_roundtrip(
        _pixels("smooth", 48, 48, rng),
        use_subtract_green=True,
        predictor=11,
        predictor_bits=3,
        color_cte=(2, 1, -3),
        color_bits=4,
        use_lz77=True,
        cache_bits=5,
    )


def test_webp_alpha_sets_bpp32():
    rng = np.random.default_rng(17)
    px = rng.integers(0, 256, size=(9, 13, 4), dtype=np.uint8)
    px[0, 0, 3] = 7  # guarantee a non-opaque pixel
    payload = make_webp_lossless(13, 9, _rows(px))
    w, h, bpp, bgr = webp_decode_bgr(payload)
    assert (w, h, bpp) == (13, 9, 32.0)
    assert np.array_equal(bgr, px[..., 2::-1].astype(np.float64))
    # fully-opaque alpha column reports 24 bpp like the PNG/TIFF paths
    _, _, bpp24, _ = webp_decode_bgr(make_webp_lossless(13, 9, _rows(px[..., :3])))
    assert bpp24 == 24.0


def test_webp_auto_decode_matches_bmp_features():
    """auto_decode dispatches the RIFF/WEBP magic and yields the identical
    feature vector to the same pixels through the BMP decoder (dims + bpp
    from the container, channel stats from the shared _bgr_features)."""
    from logparserhelper_spark.functions.multimodal import auto_decode, bmp_decode, make_bmp

    rng = np.random.default_rng(19)
    px = _pixels("smooth", 24, 16, rng)
    ref = bmp_decode(make_bmp(24, 16, _rows(px)))
    got = auto_decode(make_webp_lossless(24, 16, _rows(px), use_subtract_green=True, use_lz77=True))
    assert (got[0], got[1], got[2]) == (24.0, 16.0, 24.0)
    assert np.allclose(got[3:], ref[3:], atol=1e-6)


def test_webp_pixel_plane_container_invariance():
    """A 64x64 gradient decodes to the identical pixel plane through the
    lossless WebP container (LZ77 + color cache) and BMP — the same
    invariance the other lossless containers pin."""
    from logparserhelper_spark.functions.multimodal import auto_decode_bgr, make_bmp

    rows = [
        [((x * 37) % 256, (y * 53) % 256, ((x * 3 + y * 5)) % 256) for x in range(64)]
        for y in range(64)
    ]
    w, h, _bpp, got = auto_decode_bgr(
        make_webp_lossless(64, 64, rows, use_lz77=True, cache_bits=6)
    )
    _w, _h, _bpp, ref = auto_decode_bgr(make_bmp(64, 64, rows))
    assert (w, h) == (64, 64)
    assert np.array_equal(got, ref)


def test_webp_vp8x_extended_container_walk():
    """The RIFF walker skips a VP8X header chunk and an odd-sized chunk's
    pad byte to reach the VP8L payload."""
    rng = np.random.default_rng(23)
    px = _pixels("random", 5, 4, rng)
    vp8l = encode_vp8l(_rows(px))
    vp8x = b"VP8X" + struct.pack("<I", 10) + bytes(10)
    odd = b"XMP " + struct.pack("<I", 3) + b"abc" + b"\x00"  # odd size -> pad
    chunk = b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l + (b"\x00" if len(vp8l) & 1 else b"")
    body = b"WEBP" + vp8x + odd + chunk
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    w, h, bpp, bgr = webp_decode_bgr(payload)
    assert (w, h) == (5, 4)
    assert np.array_equal(bgr, px[..., 2::-1].astype(np.float64))


def test_webp_lossy_vp8_is_labeled_fallback():
    """A lossy 'VP8 ' payload raises in the real decoder and lands on the
    deterministic fake-feature path through auto_decode — the documented
    codec gap stays labeled, never silently wrong."""
    from logparserhelper_spark.functions.multimodal import auto_decode, fake_decode

    body = b"WEBP" + b"VP8 " + struct.pack("<I", 8) + bytes(8)
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="lossy"):
        webp_decode_bgr(payload)
    assert np.array_equal(auto_decode(payload), fake_decode(payload))


def test_webp_dimension_bomb_refused_not_allocated():
    """A 16384x16384 header claim (268M pixels > MAX_WEBP_PIXELS) must be
    refused from the 5 header bytes, fast, with no allocation."""
    bw = _BitWriter()
    bw.put(0x2F, 8)
    bw.put(16383, 14)
    bw.put(16383, 14)
    bw.put(0, 1)
    bw.put(0, 3)
    bomb = bw.bytes() + bytes(64)
    assert 16384 * 16384 > MAX_WEBP_PIXELS
    t0 = time.monotonic()
    with pytest.raises(ValueError):
        vp8l_decode(bomb)
    assert time.monotonic() - t0 < 1.0


def test_webp_truncation_and_garbage_raise():
    rng = np.random.default_rng(29)
    px = _pixels("random", 16, 16, rng)
    payload = make_webp_lossless(16, 16, _rows(px), use_lz77=True)
    for cut in (13, 21, len(payload) - 3):
        with pytest.raises(ValueError):
            webp_decode_bgr(payload[:cut])
    with pytest.raises(ValueError):
        webp_decode_bgr(b"RIFF\x10\x00\x00\x00WAVEdata")  # not WEBP
    with pytest.raises(ValueError):
        webp_decode_bgr(b"RIFF" + struct.pack("<I", 4) + b"WEBP")  # no VP8L chunk
