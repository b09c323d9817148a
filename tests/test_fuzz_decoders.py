"""Adversarial-input hardening ring for the pure-stdlib media decoders.

A 100-TB crawl corpus WILL contain hostile bytes. Contract under fuzz:
every decoder either returns a bounded result or raises — within a small
per-payload wall budget, never hanging, never allocating from an untrusted
header's claim (zip-bomb deflate streams, huge-dimension headers, LZW
table growth, truncated Huffman). A RIFF/WAVE payload has no real
decoder and lands on the labeled fake fallback.

Three rings:
1. hypothesis byte-mutations of VALID fixtures (deep parser paths),
2. magic-prefixed random buffers (forces each container branch),
3. deterministic crafted attacks (dimension bombs, deflate bomb, LZW growth).
"""

from __future__ import annotations

import struct
import time
import zlib

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from logparserhelper_spark.functions.jpeg import MAX_PIXELS, encode_jpeg
from logparserhelper_spark.functions.multimodal import (
    MAX_DECODE_PIXELS,
    auto_decode,
    auto_decode_bgr,
    make_bmp,
    make_gif,
    make_png,
    make_tiff,
)
from logparserhelper_spark.functions.webp import make_webp_lossless

# generous per-payload decode budget: a hang or unbounded loop blows far
# past this; honest work on 16x16 fixtures is milliseconds
BUDGET_SEC = 10.0


def _fixture_payloads() -> list[bytes]:
    px = [[(x * 3 % 256, y * 5 % 256, (x + y) % 256) for x in range(16)] for y in range(16)]
    pal = [(i, 255 - i, i // 2) for i in range(256)]
    idx = [[(x + y) % 256 for x in range(16)] for y in range(16)]
    arr = np.zeros((16, 16, 3), np.uint8)
    arr[:, :, 0] = np.arange(16)[None, :] * 16
    arr[:, :, 2] = np.arange(16)[:, None] * 16
    jpg = encode_jpeg(arr, quality=90)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + 64) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 64) + bytes(range(64))
    )
    return [
        make_bmp(16, 16, px),
        make_gif(16, 16, pal, idx),
        make_png(16, 16, px),
        make_tiff(16, 16, px, compression=8),
        jpg,
        wav,
        b"P6\n16 16\n255\n" + bytes(16 * 16 * 3),
        make_webp_lossless(16, 16, px, use_lz77=True, cache_bits=4),
    ]


FIXTURES = _fixture_payloads()
MAGICS = [
    b"\x89PNG\r\n\x1a\n",
    b"GIF89a",
    b"BM",
    b"\xff\xd8\xff",
    b"II*\x00",
    b"MM\x00*",
    b"P6",
    b"RIFF\x00\x01\x00\x00WAVE",
    b"RIFF\x00\x01\x00\x00AVI ",
    b"RIFF\x00\x01\x00\x00WEBPVP8L",
]


def _assert_decodes_bounded(payload: bytes) -> None:
    """Every decode surface returns-or-raises inside the budget; successful
    image decodes never exceed the pixel cap the header guard promises."""
    t0 = time.monotonic()
    try:
        w, h, _bpp, bgr = auto_decode_bgr(payload)
        assert w * h <= MAX_DECODE_PIXELS
        assert bgr.size <= MAX_DECODE_PIXELS * 4
    except Exception:
        pass
    try:
        auto_decode(payload)  # feature path incl. the labeled fake fallback
    except Exception:
        pass
    assert time.monotonic() - t0 < BUDGET_SEC


@settings(
    max_examples=80,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    fi=st.integers(0, len(FIXTURES) - 1),
    mutations=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 255)), max_size=8
    ),
    trunc=st.integers(0, 10_000),
    data=st.data(),
)
def test_fuzz_mutated_fixtures(fi, mutations, trunc, data):
    buf = bytearray(FIXTURES[fi])
    for off, val in mutations:
        if buf:
            buf[off % len(buf)] = val
    if data.draw(st.booleans()):
        buf = buf[: max(1, trunc % (len(buf) + 1))]
    _assert_decodes_bounded(bytes(buf))


@settings(
    max_examples=80,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    mi=st.integers(0, len(MAGICS) - 1),
    tail=st.binary(max_size=600),
)
def test_fuzz_magic_prefixed_random(mi, tail):
    _assert_decodes_bounded(MAGICS[mi] + tail)


@settings(max_examples=60, deadline=None)
@given(blob=st.binary(max_size=400))
def test_fuzz_pure_random(blob):
    _assert_decodes_bounded(blob)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def test_riff_wave_takes_fake_path():
    """A RIFF/WAVE payload has no real decoder: the feature path returns
    the labeled fake and the pixel path refuses it."""
    from logparserhelper_spark.functions.multimodal import fake_decode

    (wav,) = [p for p in FIXTURES if p[:4] == b"RIFF" and p[8:12] == b"WAVE"]
    assert np.array_equal(auto_decode(wav), fake_decode(wav))
    with pytest.raises(ValueError):
        auto_decode_bgr(wav)


def test_png_deflate_bomb_is_bounded():
    """IDAT inflating to ~100 MB under a 16x16 header: the size-bounded
    inflate must reject it from the header's own claim — fast, without
    materializing the expansion."""
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0))
    bomb = _png_chunk(b"IDAT", zlib.compress(bytes(100_000_000), 9))
    payload = b"\x89PNG\r\n\x1a\n" + ihdr + bomb + _png_chunk(b"IEND", b"")
    t0 = time.monotonic()
    with pytest.raises(Exception):
        auto_decode_bgr(payload)
    assert time.monotonic() - t0 < BUDGET_SEC


def test_huge_dimension_headers_refused_not_allocated():
    """Headers claiming astronomical dimensions must raise from the cap
    check, never attempt the allocation."""
    cases = []
    # PPM claiming 10^9 x 10^9 pixels with 3 bytes of body
    cases.append(b"P6\n1000000000 1000000000\n255\n\x00\x00\x00")
    # BMP: patch biWidth/biHeight (offsets 18/22) in a valid 4x4 file
    bmp = bytearray(make_bmp(4, 4, [[(0, 0, 0)] * 4] * 4))
    struct.pack_into("<ii", bmp, 18, 1 << 28, 1 << 28)
    cases.append(bytes(bmp))
    # PNG: IHDR claiming 2^15 x 2^15 (> MAX_DECODE_PIXELS), valid CRC
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 1 << 15, 1 << 15, 8, 2, 0, 0, 0))
    idat = _png_chunk(b"IDAT", zlib.compress(b"\x00"))
    cases.append(b"\x89PNG\r\n\x1a\n" + ihdr + idat + _png_chunk(b"IEND", b""))
    # GIF: the IMAGE descriptor (what allocation follows) claiming
    # 65535x65535 — the screen descriptor alone is harmless since the
    # decoder sizes from the per-image dims
    gif = bytearray(make_gif(4, 4, [(0, 0, 0)] * 256, [[0] * 4] * 4))
    i = gif.rfind(b"\x2c")
    struct.pack_into("<HH", gif, i + 5, 65535, 65535)
    cases.append(bytes(gif))
    # JPEG: patch the SOF0 height/width to 30000x30000 (> MAX_PIXELS)
    jpg = bytearray(encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
    sof = jpg.find(b"\xff\xc0")
    assert sof > 0
    struct.pack_into(">HH", jpg, sof + 5, 30000, 30000)
    assert 30000 * 30000 > MAX_PIXELS
    cases.append(bytes(jpg))

    for payload in cases:
        t0 = time.monotonic()
        with pytest.raises(Exception):
            auto_decode_bgr(bytes(payload))
        assert time.monotonic() - t0 < BUDGET_SEC


def test_gif_lzw_table_growth_bounded():
    """An LZW stream that keeps growing the code table against a tiny
    image must stop at the pixel budget, not grow without bound."""
    gif = bytearray(make_gif(4, 4, [(0, 0, 0)] * 256, [[0] * 4] * 4))
    # splice a long self-referencing LZW body: find the image data sub-blocks
    # (after the LZW min-code-size byte) and replace with crafted garbage
    # sub-blocks that parse as an endless growth stream
    tail = b"".join(b"\xff" + bytes(range(255)) for _ in range(64)) + b"\x00"
    i = gif.rfind(b"\x2c")  # image separator; data follows descriptor
    assert i > 0
    payload = bytes(gif[: i + 11]) + tail + b"\x3b"
    t0 = time.monotonic()
    try:
        auto_decode_bgr(payload)
    except Exception:
        pass
    assert time.monotonic() - t0 < BUDGET_SEC
