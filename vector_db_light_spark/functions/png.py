"""Pure-stdlib PNG codec (VERDICT r7 next-round #2).

Implements the subset of the W3C PNG specification (ISO/IEC 15948; also
RFC 2083) a curation pipeline's decode stage needs, with no third-party
libraries: chunk framing with CRC-32, IHDR parsing, zlib (RFC 1950)
IDAT streams via the stdlib ``zlib`` module, and all five scanline filter
predictors (None/Sub/Up/Average/Paeth, spec §9 "Filtering"). Supported
images: bit depth 8, colour types 0 (greyscale, 1 channel), 2 (truecolour,
3), 4 (grey+alpha, 2), 6 (truecolour+alpha, 4), no interlacing. Palette
(type 3), 16-bit depths and Adam7 interlace raise ``PngError`` — they land
in the operator's per-row ``decode_error`` column, never poison a batch.

The encoder exists so fixtures are REAL container bytes: it cycles the
filter type per scanline (y % 5), which forces the decoder's unfilter path
to exercise every predictor on every image taller than 4 rows.

The resize here is deterministic integer nearest-neighbour
(``src = (dst * src_dim) // dst_dim``), chosen because the DuckDB oracle
can replay the exact index arithmetic in SQL — a float box filter has no
cross-engine bit-parity story.
"""

from __future__ import annotations

import struct
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# colour type -> samples per pixel (spec §11.2.2, PLTE/16-bit unsupported)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels -> colour type


class PngError(ValueError):
    """Malformed or unsupported PNG input."""


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (spec §9.4): nearest of left/up/up-left to a+b-c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(
    pixels: bytes, width: int, height: int, channels: int = 1
) -> bytes:
    """Serialize a packed row-major 8-bit pixel buffer to real PNG bytes.

    The filter type cycles per scanline (y % 5) — every predictor of spec
    §9 appears in any image with >= 5 rows, so a decode of our own output
    is a genuine filter-reconstruction test, not a filter-0 shortcut.
    """
    if channels not in _COLOR_TYPE:
        raise PngError(f"unsupported channel count {channels}")
    bpp = channels  # bytes per pixel at depth 8
    stride = width * bpp
    if len(pixels) != stride * height:
        raise PngError(
            f"pixel buffer {len(pixels)} != {width}x{height}x{channels}"
        )
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        ftype = y % 5
        raw.append(ftype)
        if ftype == 0:  # None
            raw += row
        elif ftype == 1:  # Sub
            raw += bytes(
                (row[i] - (row[i - bpp] if i >= bpp else 0)) & 0xFF
                for i in range(stride)
            )
        elif ftype == 2:  # Up
            raw += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif ftype == 3:  # Average
            raw += bytes(
                (row[i] - ((row[i - bpp] if i >= bpp else 0) + prev[i]) // 2)
                & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            raw += bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - bpp] if i >= bpp else 0,
                        prev[i],
                        prev[i - bpp] if i >= bpp else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        prev = row
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, _COLOR_TYPE[channels], 0, 0, 0
    )
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, channels, packed 8-bit pixels) from PNG bytes.

    Walks the chunk chain verifying CRCs, inflates the concatenated IDAT
    zlib stream, and reconstructs scanlines through the five filter
    predictors. EVERY malformed-input failure surfaces as
    :class:`PngError` — including zlib and struct errors from corrupt
    streams (review r8: a valid-CRC IDAT with invalid zlib bytes raised
    bare ``zlib.error`` and poisoned the whole Arrow batch the per-row
    ``decode_error`` contract promises to protect)."""
    try:
        return _decode_png(data)
    except PngError:
        raise
    except (zlib.error, struct.error, IndexError, ValueError) as ex:
        raise PngError(f"{type(ex).__name__}: {ex}") from ex


def _decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:8] != _PNG_SIG:
        raise PngError("bad signature")
    pos = 8
    width = height = None
    channels = 0
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise PngError("truncated chunk")
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if crc != (zlib.crc32(tag + body) & 0xFFFFFFFF):
            raise PngError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise PngError(f"unsupported bit depth {depth}")
            if color not in _CHANNELS:
                raise PngError(f"unsupported colour type {color}")
            if comp != 0 or filt != 0:
                raise PngError("unsupported compression/filter method")
            if interlace != 0:
                raise PngError("Adam7 interlace unsupported")
            channels = _CHANNELS[color]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise PngError("missing IHDR or IDAT")
    raw = zlib.decompress(bytes(idat))
    bpp = channels
    stride = width * bpp
    if len(raw) != (stride + 1) * height:
        raise PngError("inflated size mismatch")
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(stride):
                line[i] = (line[i] + (line[i - bpp] if i >= bpp else 0)) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                line[i] = (
                    line[i]
                    + ((line[i - bpp] if i >= bpp else 0) + prev[i]) // 2
                ) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                line[i] = (
                    line[i]
                    + _paeth(
                        line[i - bpp] if i >= bpp else 0,
                        prev[i],
                        prev[i - bpp] if i >= bpp else 0,
                    )
                ) & 0xFF
        else:
            raise PngError(f"unknown filter type {ftype}")
        prev = bytes(line)
        out += line
    return width, height, channels, bytes(out)


def resize_nearest(
    pixels: bytes,
    width: int,
    height: int,
    channels: int,
    new_width: int,
    new_height: int,
) -> bytes:
    """Integer nearest-neighbour resample of a packed 8-bit buffer:
    ``src_x = (dst_x * width) // new_width`` (floor), likewise for y — the
    exact arithmetic the DuckDB oracle replays per output pixel."""
    out = bytearray()
    for yy in range(new_height):
        sy = (yy * height) // new_height
        row = pixels[sy * width * channels : (sy + 1) * width * channels]
        for xx in range(new_width):
            sx = (xx * width) // new_width
            out += row[sx * channels : (sx + 1) * channels]
    return bytes(out)
