"""Unit tests for the pure-stdlib PNG codec (functions/png.py)."""

import hashlib
import struct
import zlib

import pytest

from vector_db_light_spark.functions.png import (
    PngError,
    decode_png,
    encode_png,
    resize_nearest,
)


def _pixels(w, h, ch):
    return bytes((i * 31 + j) & 0xFF for i in range(h) for j in range(w * ch))


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("dims", [(1, 1), (3, 7), (16, 11), (8, 5)])
def test_roundtrip_all_channels_and_filters(channels, dims):
    """height >= 5 cycles through every scanline filter (encoder uses
    y % 5), so the decode is a full predictor-reconstruction exercise."""
    w, h = dims
    px = _pixels(w, h, channels)
    data = encode_png(px, w, h, channels)
    assert decode_png(data) == (w, h, channels, px)


def test_decode_rejects_corruption_and_unsupported():
    px = _pixels(4, 4, 1)
    good = encode_png(px, 4, 4, 1)
    with pytest.raises(PngError):  # flipped IHDR byte -> CRC mismatch
        bad = bytearray(good)
        bad[28] ^= 1
        decode_png(bytes(bad))
    with pytest.raises(PngError):  # bad signature
        decode_png(b"JFIF" + good[4:])
    # 16-bit depth / palette / interlace: rebuild IHDR with valid CRC
    for field_off, val in ((8, 16), (9, 3), (12, 1)):  # depth, colour, interlace
        body = bytearray(good[16:29])
        body[field_off] = val
        chunk = (
            struct.pack(">I", 13)
            + b"IHDR"
            + bytes(body)
            + struct.pack(">I", zlib.crc32(b"IHDR" + bytes(body)) & 0xFFFFFFFF)
        )
        with pytest.raises(PngError):
            decode_png(good[:8] + chunk + good[33:])


def test_resize_nearest_index_arithmetic():
    """src = (dst * src_dim) // dst_dim, the formula the DuckDB oracle
    replays — checked against an explicit hand map for 4x2 -> 2x4."""
    px = bytes(range(8))  # 4x2 grayscale: rows [0,1,2,3], [4,5,6,7]
    out = resize_nearest(px, 4, 2, 1, 2, 4)
    # x': 0->src 0, 1->src 2 ; y': 0,1 -> src 0 ; 2,3 -> src 1
    assert out == bytes([0, 2, 0, 2, 4, 6, 4, 6])
    # multi-channel keeps pixels packed
    rgb = bytes(range(12))  # 2x2 RGB
    out2 = resize_nearest(rgb, 2, 2, 3, 1, 1)
    assert out2 == bytes([0, 1, 2])


def test_fixture_pixels_are_md5_defined():
    """The synthetic corpus contract the oracles rely on: pixel (x, y) of
    doc_id's image == byte x of md5('<id>:<y>')."""
    from vector_db_light_spark.operators.multimodal import png_fixture_payload

    doc_id = 42
    w0, h0 = 8 + doc_id % 9, 8 + doc_id % 7
    w, h, ch, px = decode_png(png_fixture_payload(doc_id))
    assert (w, h, ch) == (w0, h0, 1)
    for y in (0, h0 - 1):
        digest = hashlib.md5(f"{doc_id}:{y}".encode()).digest()
        assert px[y * w0 : (y + 1) * w0] == digest[:w0]


def test_decode_normalizes_all_malformed_inputs_to_pngerror():
    """Review r8: zlib/struct/slice failures from corrupt-but-CRC-valid
    input must surface as PngError (the operator's per-row decode_error
    contract), never a bare zlib.error/struct.error."""
    px = _pixels(4, 4, 1)
    good = encode_png(px, 4, 4, 1)
    # IDAT with a valid CRC over INVALID zlib bytes
    body = b"not zlib at all"
    idat = (
        struct.pack(">I", len(body))
        + b"IDAT"
        + body
        + struct.pack(">I", zlib.crc32(b"IDAT" + body) & 0xFFFFFFFF)
    )
    end = good.rindex(struct.pack(">I", 0) + b"IEND")
    idat_start = good.index(b"IDAT") - 4
    with pytest.raises(PngError):
        decode_png(good[:idat_start] + idat + good[end:])
    # truncations at every prefix length must also be PngError (or succeed)
    for cut in range(0, len(good), 7):
        try:
            decode_png(good[:cut])
        except PngError:
            pass
