"""Unit tests for the pure-stdlib baseline JPEG codec (functions/jpeg.py)."""

import hashlib
import random

import pytest

from vector_db_light_spark.functions.jpeg import (
    JpegError,
    decode_jpeg,
    encode_jpeg,
)


def _block_constant(doc_id: int):
    w0 = 8 * (1 + (doc_id // 4) % 2)
    h0 = 8 * (1 + (doc_id // 4) % 3)
    px = bytearray(w0 * h0)
    for by in range(h0 // 8):
        for bx in range(w0 // 8):
            v = 2 * (
                hashlib.md5(f"{doc_id}:{bx}:{by}".encode()).digest()[0] % 128
            )
            for y in range(8):
                for x in range(8):
                    px[(by * 8 + y) * w0 + bx * 8 + x] = v
    return w0, h0, bytes(px)


@pytest.mark.parametrize("doc_id", [3, 7, 11, 15, 19, 23])
def test_constant_even_blocks_roundtrip_exactly(doc_id):
    """The fixtures' lossless island: a constant 8x8 block is DC-only and
    even values quantize exactly under the Annex K table — encode->decode
    must be bit-identical, which is what lets the DuckDB oracle recompute
    decoded pixels for a LOSSY codec."""
    w0, h0, px = _block_constant(doc_id)
    data = encode_jpeg(px, w0, h0)
    assert decode_jpeg(data) == (w0, h0, px)


def test_arbitrary_images_roundtrip_approximately():
    """Non-constant content exercises the AC Huffman/zigzag/ZRL machinery;
    smooth gradients must come back within a tight tolerance (lossy, not
    broken), and odd (non-multiple-of-8) dims crop correctly."""
    w, h = 24, 16
    smooth = bytes(((x * 3 + y * 5) % 200 + 20) for y in range(h) for x in range(w))
    W, H, out = decode_jpeg(encode_jpeg(smooth, w, h))
    assert (W, H) == (w, h)
    assert max(abs(a - b) for a, b in zip(smooth, out)) <= 4

    rng = random.Random(7)
    for (w, h) in ((17, 9), (5, 3), (8, 8)):
        px = bytes(rng.randrange(256) for _ in range(w * h))
        W, H, out = decode_jpeg(encode_jpeg(px, w, h))
        assert (W, H) == (w, h) and len(out) == w * h


def test_decode_rejects_malformed_and_unsupported():
    with pytest.raises(JpegError):
        decode_jpeg(b"not a jpeg at all")
    with pytest.raises(JpegError):  # progressive SOF2
        decode_jpeg(b"\xff\xd8\xff\xc2\x00\x08\x08\x00\x08\x00\x08\x01")
    with pytest.raises(JpegError):  # truncated mid-header
        decode_jpeg(encode_jpeg(bytes(64), 8, 8)[:20])


