"""Pure-stdlib baseline JPEG codec (grayscale), closing the last stubbed
image decode path.

Implements the subset of ITU-T T.81 (the public JPEG specification) a
curation pipeline's decode stage needs, with no third-party libraries:
baseline sequential DCT, 8-bit, single (luminance) component, the spec's
Annex K example quantization and Huffman tables, JFIF framing, marker
byte-stuffing. Progressive/arithmetic/subsampled-color inputs raise
:class:`JpegError` — they land in the operator's per-row ``decode_error``
column, never poison a batch.

JPEG is LOSSY, so unlike PNG the oracle cannot replay arbitrary decoded
pixels. The fixtures exploit an EXACTNESS island instead: a constant 8x8
block's DCT is DC-only, and with the Annex K luminance table (Q[0,0]=16)
the DC coefficient ``8*(v-128)`` quantizes exactly whenever ``v`` is
even — so block-constant images with even values survive encode->decode
bit-exactly, and the DuckDB oracle recomputes every decoded pixel from
the md5 block-value formula. Arbitrary images roundtrip approximately
(property-tested within a tolerance), which is what exercises the AC
Huffman/zigzag machinery for real.
"""

from __future__ import annotations

import math
import struct

# Annex K.1 luminance quantization table (in zigzag order it is usually
# shipped; here in natural row-major order).
_QTABLE = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

# zigzag scan order: _ZIGZAG[k] = natural index of the k-th zigzag coeff
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.3.1 / K.3.2: typical luminance DC and AC Huffman tables,
# given as (BITS counts per code length 1..16, HUFFVAL symbol list).
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
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
]


class JpegError(ValueError):
    """Malformed or unsupported JPEG input."""


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_DC_CODES = _build_codes(_DC_BITS, _DC_VALS)
_AC_CODES = _build_codes(_AC_BITS, _AC_VALS)

_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16) for u in range(8)]
    for x in range(8)
]
_C = [1 / math.sqrt(2)] + [1.0] * 7


def _fdct(block: list[float]) -> list[float]:
    out = [0.0] * 64
    for v in range(8):
        for u in range(8):
            s = 0.0
            for y in range(8):
                for x in range(8):
                    s += block[y * 8 + x] * _COS[x][u] * _COS[y][v]
            out[v * 8 + u] = 0.25 * _C[u] * _C[v] * s
    return out


def _idct(coef: list[float]) -> list[float]:
    out = [0.0] * 64
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    s += _C[u] * _C[v] * coef[v * 8 + u] * _COS[x][u] * _COS[y][v]
            out[y * 8 + x] = 0.25 * s
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude bits) of a DC diff / AC coefficient (F.1.2.1)."""
    if v == 0:
        return 0, 0
    size = v.bit_length() if v > 0 else (-v).bit_length()
    amp = v if v > 0 else v + (1 << size) - 1
    return size, amp


def encode_jpeg(pixels: bytes, width: int, height: int) -> bytes:
    """Serialize a row-major 8-bit GRAYSCALE buffer to baseline JFIF
    bytes. Edge blocks pad by edge replication (decoder crops back)."""
    if len(pixels) != width * height:
        raise JpegError(f"pixel buffer {len(pixels)} != {width}x{height}")
    bw = _BitWriter()
    prev_dc = 0
    bx_max = (width + 7) // 8
    by_max = (height + 7) // 8
    for by in range(by_max):
        for bx in range(bx_max):
            block = []
            for y in range(8):
                sy = min(by * 8 + y, height - 1)
                for x in range(8):
                    sx = min(bx * 8 + x, width - 1)
                    block.append(float(pixels[sy * width + sx]) - 128.0)
            coef = _fdct(block)
            quant = [
                int(round(coef[i] / _QTABLE[i])) for i in range(64)
            ]
            zz = [quant[_ZIGZAG[k]] for k in range(64)]
            diff = zz[0] - prev_dc
            prev_dc = zz[0]
            size, amp = _magnitude(diff)
            code, length = _DC_CODES[size]
            bw.write(code, length)
            if size:
                bw.write(amp, size)
            run = 0
            last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
            for k in range(1, last_nz + 1):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    zrl, zl = _AC_CODES[0xF0]
                    bw.write(zrl, zl)
                    run -= 16
                size, amp = _magnitude(zz[k])
                code, length = _AC_CODES[(run << 4) | size]
                bw.write(code, length)
                bw.write(amp, size)
                run = 0
            if last_nz < 63:
                eob, el = _AC_CODES[0x00]
                bw.write(eob, el)
    scan = bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    zz_q = bytes(_QTABLE[_ZIGZAG[k]] for k in range(64))
    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + zz_q)  # DQT, table 0, 8-bit
    out += seg(
        0xFFC0, struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    )  # SOF0: precision 8, 1 component, no subsampling, qtable 0
    out += seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
    out += seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0xFF  # pad past end
                self.nbits += 8
                continue
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # marker inside scan: treat as end-of-data padding
                    self.pos = len(self.data)
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    continue
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v


def _build_decode(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise JpegError("invalid Huffman code")


def _extend(amp: int, size: int) -> int:
    if size == 0:
        return 0
    if amp < (1 << (size - 1)):
        return amp - (1 << size) + 1
    return amp


def decode_jpeg(data: bytes) -> tuple[int, int, bytes]:
    """(width, height, grayscale pixels) from baseline JFIF bytes.

    Supports what :func:`encode_jpeg` emits plus any single-component
    baseline file using one quant + one DC/AC Huffman table pair; other
    shapes raise :class:`JpegError`."""
    try:
        return _decode_jpeg(data)
    except JpegError:
        raise
    except (struct.error, IndexError, KeyError, ValueError) as ex:
        raise JpegError(f"{type(ex).__name__}: {ex}") from ex


def _decode_jpeg(data: bytes) -> tuple[int, int, bytes]:
    if data[:2] != b"\xff\xd8":
        raise JpegError("bad SOI")
    pos = 2
    qtables: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    width = height = None
    q_id = dc_id = ac_id = 0
    scan = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise JpegError("marker expected")
        marker = struct.unpack(">H", data[pos : pos + 2])[0]
        if marker == 0xFFD9:
            break
        (ln,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + ln]
        if marker == 0xFFDB:
            off = 0
            while off < len(body):
                pq_tq = body[off]
                if pq_tq >> 4 != 0:
                    raise JpegError("16-bit quant tables unsupported")
                zz = list(body[off + 1 : off + 65])
                nat = [0] * 64
                for k in range(64):
                    nat[_ZIGZAG[k]] = zz[k]
                qtables[pq_tq & 0x0F] = nat
                off += 65
        elif marker == 0xFFC4:
            off = 0
            while off < len(body):
                tc_th = body[off]
                bits = list(body[off + 1 : off + 17])
                n = sum(bits)
                vals = list(body[off + 17 : off + 17 + n])
                tbl = _build_decode(bits, vals)
                if tc_th >> 4 == 0:
                    dc_tables[tc_th & 0x0F] = tbl
                else:
                    ac_tables[tc_th & 0x0F] = tbl
                off += 17 + n
        elif marker == 0xFFC0:
            precision, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise JpegError("only 8-bit precision supported")
            if ncomp != 1:
                raise JpegError("only single-component (grayscale) supported")
            if body[7] != 0x11:
                raise JpegError("subsampling unsupported")
            q_id = body[8]
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3, 0xFFC5, 0xFFC6, 0xFFC7,
                        0xFFC9, 0xFFCA, 0xFFCB, 0xFFCD, 0xFFCE, 0xFFCF):
            raise JpegError("non-baseline SOF unsupported")
        elif marker == 0xFFDA:
            if body[0] != 1:
                raise JpegError("multi-component scan unsupported")
            dc_id, ac_id = body[2] >> 4, body[2] & 0x0F
            scan = data[pos + 2 + ln :]
            break
        pos += 2 + ln
    if scan is None or width is None:
        raise JpegError("missing SOS or SOF0")
    qt = qtables.get(q_id)
    dct = dc_tables.get(dc_id)
    act = ac_tables.get(ac_id)
    if qt is None or dct is None or act is None:
        raise JpegError("missing quant/Huffman tables")

    br = _BitReader(scan)
    bx_max = (width + 7) // 8
    by_max = (height + 7) // 8
    out = bytearray(width * height)
    prev_dc = 0
    for by in range(by_max):
        for bx in range(bx_max):
            zz = [0] * 64
            size = _huff_decode(br, dct)
            prev_dc += _extend(br.read(size), size)
            zz[0] = prev_dc
            k = 1
            while k < 64:
                sym = _huff_decode(br, act)
                if sym == 0x00:  # EOB
                    break
                run, size = sym >> 4, sym & 0x0F
                if size == 0:
                    if run != 15:
                        raise JpegError("bad AC symbol")
                    k += 16  # ZRL
                    continue
                k += run
                if k > 63:
                    raise JpegError("AC run overflows block")
                zz[k] = _extend(br.read(size), size)
                k += 1
            coef = [0.0] * 64
            for k in range(64):
                coef[_ZIGZAG[k]] = zz[k] * qt[_ZIGZAG[k]]
            block = _idct(coef)
            for y in range(8):
                py = by * 8 + y
                if py >= height:
                    break
                for x in range(8):
                    px = bx * 8 + x
                    if px >= width:
                        continue
                    v = int(round(block[y * 8 + x] + 128.0))
                    out[py * width + px] = min(255, max(0, v))
    return width, height, bytes(out)


