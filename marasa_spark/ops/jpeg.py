"""Baseline JPEG (ITU-T T.81) grayscale reference codec — pure stdlib.

Round-8 narrowing of the multimodal external-codec slot: baseline
sequential-DCT JPEG with a single (luminance) component needs no external
library — the whole pipeline is marker parsing, canonical Huffman decode
with 0xFF00 byte unstuffing, DC prediction, AC run-length/EOB expansion,
zigzag + dequantization, and a separable 2-D IDCT — all expressible with
``struct`` and ``math``. This module implements:

* :func:`decode_jpeg_gray` — a REAL entropy decoder for any baseline
  grayscale JPEG (standard or custom Huffman/quant tables, restart
  markers, non-multiple-of-8 dimensions). Color (multi-component),
  progressive (SOF2), and arithmetic-coded JPEGs raise
  ``NotImplementedError`` — that remainder is the declared external-codec
  slot (chroma upsampling + YCbCr conversion are where PIL/libjpeg
  genuinely earn their keep).
* :func:`synthesize_jpeg_gray` — an encoder for BLOCK-CONSTANT images
  (every 8x8 block one value): with an all-ones quant table a constant
  block's only nonzero coefficient is the DC (exactly ``8 * (v - 128)``),
  so the encode → entropy-decode → IDCT round trip is EXACT and a DuckDB
  closed-form oracle can check the decoded pixels (k87).
* :func:`synthesize_jpeg_from_coefficients` — an encoder that writes
  arbitrary quantized coefficient blocks, so tests can drive the AC
  run-length/ZRL/EOB and restart-marker paths with content the
  block-constant oracle fixtures never produce.

Scale posture matches the PNG codec: decode runs per-row inside
Arrow-batched ``mapInPandas`` (parallelism follows the id partitioning,
payload bytes never reach the driver).

Tables: the Huffman tables embedded here are the "typical" luminance
tables of ITU-T T.81 Annex K.3 (public specification text, reproduced by
every JPEG implementation); the zigzag order is Figure A.6 of the same
standard.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# ITU-T T.81 Figure A.6 — zigzag index -> (row, col) raster index
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# ITU-T T.81 Annex K.3.1 — typical luminance DC table:
# BITS[i] = number of codes of length i+1; HUFFVAL = symbols in code order
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))

# ITU-T T.81 Annex K.3.2 — typical luminance AC table
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# ITU-T T.81 Annex K.3.3 — typical chrominance DC table
DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHR_VALS = list(range(12))

# ITU-T T.81 Annex K.3.3.2 — typical chrominance AC table
AC_CHR_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHR_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# separable IDCT basis: _COS[u][x] = C(u) * cos((2x+1) u pi / 16) / 2
_COS = [
    [
        (math.sqrt(0.5) if u == 0 else 1.0)
        * math.cos((2 * x + 1) * u * math.pi / 16)
        / 2.0
        for x in range(8)
    ]
    for u in range(8)
]


def _canonical_codes(bits: "list[int]") -> "list[tuple[int, int]]":
    """Canonical Huffman (code, length) pairs in symbol order, per
    ITU-T T.81 Annex C: codes of each length are consecutive, starting
    from double the previous length's end."""
    out = []
    code = 0
    for length_minus1, n in enumerate(bits):
        for _ in range(n):
            out.append((code, length_minus1 + 1))
            code += 1
        code <<= 1
    return out


class _HuffTable:
    """Decode-side canonical Huffman table: (length, code) -> symbol."""

    def __init__(self, bits: "list[int]", vals: "list[int]"):
        self.lut = {}
        for (code, length), sym in zip(_canonical_codes(bits), vals):
            self.lut[(length, code)] = sym

    def decode(self, reader: "_BitReader") -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | reader.read_bit()
            sym = self.lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy stream")


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    unstuffing; stops at any non-RST marker. ``align_restart`` consumes an
    expected RSTn marker and re-byte-aligns (DRI support)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0

    def _next_byte(self) -> int:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("entropy stream truncated")
        b = d[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(d):
                raise ValueError("entropy stream truncated at 0xFF")
            nxt = d[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            else:
                raise ValueError("marker encountered mid-entropy-decode")
        return b

    def read_bit(self) -> int:
        if self.nbits == 0:
            self.bitbuf = self._next_byte()
            self.nbits = 8
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self, n: int) -> None:
        self.nbits = 0  # discard pad bits
        d = self.data
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF or d[self.pos + 1] != 0xD0 + (n % 8):
            raise ValueError("expected restart marker in entropy stream")
        self.pos += 2


def _extend(v: int, size: int) -> int:
    """ITU-T T.81 F.2.2.1 EXTEND: map a ``size``-bit magnitude code to its
    signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _category(v: int) -> int:
    """Encode-side inverse of EXTEND: the magnitude category of a value."""
    return abs(v).bit_length()


class _BitWriter:
    """Encode-side MSB-first bit writer with 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0


def _headers(
    width: int,
    height: int,
    quant: "list[int]",
    color: bool = False,
    subsample: bool = False,
) -> bytes:
    """SOI + DQT(s) + SOF0 + the Annex K DHTs + SOS header for a baseline
    scan — single-component (grayscale), or 3-component YCbCr when
    ``color`` (quant table 1 and the Annex K chrominance Huffman pair are
    emitted for Cb/Cr): 4:4:4 by default, 4:2:0 (Y sampling 2x2, chroma
    1x1) when ``subsample``. ``quant`` is the table in NATURAL (raster)
    order; it is written in zigzag order per B.2.4.1."""
    out = bytearray(b"\xff\xd8")  # SOI
    zz_quant = bytes(quant[ZIGZAG[k]] for k in range(64))
    out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + zz_quant
    if color:
        out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x01" + zz_quant
    n_comp = 3 if color else 1
    out += b"\xff\xc0" + struct.pack(
        ">HBHHB", 8 + 3 * n_comp, 8, height, width, n_comp
    )
    for c in range(n_comp):
        samp = 0x22 if (subsample and c == 0) else 0x11
        out += bytes([c + 1, samp, 0 if c == 0 else 1])
    tables = [(0x00, DC_LUM_BITS, DC_LUM_VALS), (0x10, AC_LUM_BITS, AC_LUM_VALS)]
    if color:
        tables += [(0x01, DC_CHR_BITS, DC_CHR_VALS), (0x11, AC_CHR_BITS, AC_CHR_VALS)]
    for tc, bits, vals in tables:
        body = bytes([tc]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    # SOS: DC/AC table pair 0 for Y, pair 1 for Cb/Cr
    sos = bytes([n_comp])
    for c in range(n_comp):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    return bytes(out)


def synthesize_jpeg_gray(width: int, height: int, block_fn) -> bytes:
    """A valid baseline grayscale JPEG whose 8x8 blocks are each CONSTANT:
    ``block_fn(bx, by) -> 0..255`` gives the value of block column ``bx``,
    block row ``by`` (edge blocks pad by extending the constant, so
    cropping recovers it exactly). With the all-ones quant table a constant
    block quantizes to a single DC coefficient ``8 * (v - 128)`` and no AC
    terms, so decode is EXACT — the fixture family behind k87's closed-form
    oracle. DC coefficients are differentially coded with the Annex K DC
    table; every AC sequence is one EOB symbol from the Annex K AC table
    (both tables are parsed from the DHT segments by the decoder — nothing
    is implicit)."""
    out = bytearray(_headers(width, height, [1] * 64))
    w = _BitWriter()
    dc_codes = dict(zip(DC_LUM_VALS, _canonical_codes(DC_LUM_BITS)))
    ac_codes = dict(zip(AC_LUM_VALS, _canonical_codes(AC_LUM_BITS)))
    pred = 0
    for by in range((height + 7) // 8):
        for bx in range((width + 7) // 8):
            v = block_fn(bx, by)
            if not (0 <= v <= 255):
                raise ValueError("block value out of range")
            dc = 8 * (v - 128)
            diff = dc - pred
            pred = dc
            size = _category(diff)
            code, length = dc_codes[size]
            w.write(code, length)
            if size:
                w.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
            code, length = ac_codes[0x00]  # EOB
            w.write(code, length)
    w.flush()
    out += w.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def synthesize_jpeg_color(width: int, height: int, block_fn) -> bytes:
    """A valid baseline 4:4:4 color JPEG whose 8x8 blocks each carry a
    CONSTANT (Y, Cb, Cr): ``block_fn(bx, by) -> (y, cb, cr)`` with each
    component 0..255. With all-ones quant tables every block holds only
    its DC coefficient, so the per-plane decode is exact and the RGB
    output is the deterministic integer YCbCr conversion of the block
    constants — the fixture family behind the color-decode oracle (k90).
    The interleaved scan carries one block per component per MCU, Y using
    the Annex K luminance Huffman pair and Cb/Cr the chrominance pair,
    with three independent DC predictors — the real multi-component
    entropy layout, not a grayscale re-skin."""
    out = bytearray(_headers(width, height, [1] * 64, color=True))
    w = _BitWriter()
    lum_dc = dict(zip(DC_LUM_VALS, _canonical_codes(DC_LUM_BITS)))
    lum_ac = dict(zip(AC_LUM_VALS, _canonical_codes(AC_LUM_BITS)))
    chr_dc = dict(zip(DC_CHR_VALS, _canonical_codes(DC_CHR_BITS)))
    chr_ac = dict(zip(AC_CHR_VALS, _canonical_codes(AC_CHR_BITS)))
    preds = [0, 0, 0]
    for by in range((height + 7) // 8):
        for bx in range((width + 7) // 8):
            comps = block_fn(bx, by)
            if len(comps) != 3 or not all(0 <= v <= 255 for v in comps):
                raise ValueError("block_fn must yield (y, cb, cr) in 0..255")
            for ci, v in enumerate(comps):
                dc_codes = lum_dc if ci == 0 else chr_dc
                ac_codes = lum_ac if ci == 0 else chr_ac
                dc = 8 * (v - 128)
                diff = dc - preds[ci]
                preds[ci] = dc
                size = _category(diff)
                code, length = dc_codes[size]
                w.write(code, length)
                if size:
                    w.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
                code, length = ac_codes[0x00]  # EOB
                w.write(code, length)
    w.flush()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def synthesize_jpeg_color_420(width: int, height: int, mcu_fn) -> bytes:
    """A valid baseline 4:2:0 color JPEG whose 16x16 MCUs each carry a
    CONSTANT (Y, Cb, Cr): ``mcu_fn(mx, my) -> (y, cb, cr)`` with each
    component 0..255. The interleaved scan carries the real 4:2:0 MCU
    layout — FOUR Y blocks (2x2, raster order within the MCU) then one Cb
    and one Cr block — with three independent DC predictors; with
    all-ones quant tables every block holds only its DC coefficient, so
    the per-plane decode is exact and nearest-neighbor chroma upsampling
    reproduces the MCU constant at every covered pixel (edge MCUs pad by
    extension; cropping recovers the constants). The fixture family
    behind k91's closed-form oracle."""
    out = bytearray(_headers(width, height, [1] * 64, color=True, subsample=True))
    w = _BitWriter()
    lum_dc = dict(zip(DC_LUM_VALS, _canonical_codes(DC_LUM_BITS)))
    lum_ac = dict(zip(AC_LUM_VALS, _canonical_codes(AC_LUM_BITS)))
    chr_dc = dict(zip(DC_CHR_VALS, _canonical_codes(DC_CHR_BITS)))
    chr_ac = dict(zip(AC_CHR_VALS, _canonical_codes(AC_CHR_BITS)))
    preds = [0, 0, 0]
    for my in range((height + 15) // 16):
        for mx in range((width + 15) // 16):
            comps = mcu_fn(mx, my)
            if len(comps) != 3 or not all(0 <= v <= 255 for v in comps):
                raise ValueError("mcu_fn must yield (y, cb, cr) in 0..255")
            # 4 Y blocks, then Cb, then Cr — each DC-only at the constant
            for ci, reps in ((0, 4), (1, 1), (2, 1)):
                dc_codes = lum_dc if ci == 0 else chr_dc
                ac_codes = lum_ac if ci == 0 else chr_ac
                for _ in range(reps):
                    dc = 8 * (comps[ci] - 128)
                    diff = dc - preds[ci]
                    preds[ci] = dc
                    size = _category(diff)
                    code, length = dc_codes[size]
                    w.write(code, length)
                    if size:
                        w.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
                    code, length = ac_codes[0x00]  # EOB
                    w.write(code, length)
    w.flush()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def synthesize_jpeg_from_coefficients(
    width: int,
    height: int,
    blocks: "list[list[int]]",
    quant: "list[int] | None" = None,
    restart_interval: int = 0,
) -> bytes:
    """Encoder for ARBITRARY quantized coefficient blocks (each 64 ints in
    zigzag order, one per 8x8 block in raster order) — drives the decoder
    paths the block-constant fixtures cannot reach: AC run lengths, ZRL
    (16-zero runs), mid-block EOB, non-trivial quant tables, and DRI
    restart markers. Pixel output is whatever the IDCT of those
    coefficients is; tests compare against an independent IDCT."""
    n_blocks = ((height + 7) // 8) * ((width + 7) // 8)
    if len(blocks) != n_blocks:
        raise ValueError("wrong number of coefficient blocks")
    quant = quant or [1] * 64
    head = bytearray(_headers(width, height, quant))
    if restart_interval:
        # DRI must precede SOS; splice it in before the 10-byte SOS segment
        # (marker 2 + length 2 + body 6)
        dri = b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
        head = head[:-10] + dri + head[-10:]
    w = _BitWriter()
    dc_codes = dict(zip(DC_LUM_VALS, _canonical_codes(DC_LUM_BITS)))
    ac_codes = dict(zip(AC_LUM_VALS, _canonical_codes(AC_LUM_BITS)))
    out = bytearray(head)
    pred = 0
    rst = 0
    for i, blk in enumerate(blocks):
        if restart_interval and i and i % restart_interval == 0:
            w.flush()
            out += w.out
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            w = _BitWriter()
            pred = 0
        diff = blk[0] - pred
        pred = blk[0]
        size = _category(diff)
        if size > 11:
            raise ValueError(
                f"DC coefficient diff {diff} exceeds baseline category 11"
            )
        code, length = dc_codes[size]
        w.write(code, length)
        if size:
            w.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
        k = 1
        while k < 64:
            run = 0
            while k < 64 and blk[k] == 0:
                run += 1
                k += 1
            if k == 64:
                code, length = ac_codes[0x00]  # EOB
                w.write(code, length)
                break
            while run > 15:
                code, length = ac_codes[0xF0]  # ZRL
                w.write(code, length)
                run -= 16
            size = _category(blk[k])
            if size > 10:
                raise ValueError("AC coefficient magnitude exceeds Annex K table")
            code, length = ac_codes[(run << 4) | size]
            w.write(code, length)
            v = blk[k]
            w.write(v if v >= 0 else v + (1 << size) - 1, size)
            k += 1
    w.flush()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    """JFIF YCbCr -> RGB on integer component samples, round half-up and
    clamp — the exact arithmetic the color oracle mirrors in SQL."""

    def conv(v: float) -> int:
        iv = int(math.floor(v + 0.5))
        return 0 if iv < 0 else (255 if iv > 255 else iv)

    return (
        conv(y + 1.402 * (cr - 128)),
        conv(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
        conv(y + 1.772 * (cb - 128)),
    )


def decode_jpeg(b: bytes) -> tuple[int, int, int, "list[int]"]:
    """Pure-stdlib baseline JPEG decoder for grayscale, 4:4:4 color, AND
    4:2:0 chroma-subsampled color: walks the marker stream (DQT in zigzag
    order, SOF0, DHT canonical table reconstruction — per-component
    quant/Huffman table ids, optional DRI), then entropy-decodes the
    interleaved scan — per MCU h_i x v_i 8x8 blocks per component (one
    each at 4:4:4; four Y + Cb + Cr at 4:2:0), each component with its
    own DC predictor, Huffman DC category + EXTEND, AC run/size symbols
    with EOB and ZRL, 0xFF00 unstuffing, restart markers resetting ALL
    predictors and byte alignment — dequantizes, de-zigzags, applies the
    separable 2-D IDCT, level-shifts by +128, rounds half-up and clamps
    to 0..255 per component plane, upsamples subsampled chroma by
    nearest-neighbor index replication, converts YCbCr -> RGB on the
    integer samples (3-component case), and crops the padded MCU grid.
    Returns ``(width, height, channels, samples)`` with samples
    interleaved in raster order (1 or 3 per pixel).

    Progressive (SOF2), arithmetic-coded, 12-bit, other sampling-factor
    combinations (4:2:2/4:1:1), and fractional/edge-FILTERED chroma
    upsampling raise NotImplementedError — the declared slot where
    libjpeg/PIL plug in."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    quant_tables: dict[int, list[int]] = {}
    dc_tables: dict[int, _HuffTable] = {}
    ac_tables: dict[int, _HuffTable] = {}
    width = height = None
    comp_quant: "list[int]" = []  # quant table id per component, SOF order
    restart_interval = 0
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("marker expected in JPEG header stream")
        marker = b[i + 1]
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack(">H", b[i + 2 : i + 4])
        if i + 2 + seg_len > len(b):
            raise ValueError("JPEG segment truncated")
        body = b[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT — one or more tables per segment
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables (Pq=1)")
                zz = body[j + 1 : j + 65]
                tbl = [0] * 64
                for k in range(64):
                    tbl[ZIGZAG[k]] = zz[k]
                quant_tables[tq] = tbl
                j += 65
        elif marker == 0xC4:  # DHT — one or more tables per segment
            j = 0
            while j < len(body):
                cls, tid = body[j] >> 4, body[j] & 15
                bits = list(body[j + 1 : j + 17])
                n = sum(bits)
                vals = list(body[j + 17 : j + 17 + n])
                (dc_tables if cls == 0 else ac_tables)[tid] = _HuffTable(bits, vals)
                j += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1: baseline/ext seq
            precision, height, width, n_comp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise NotImplementedError("12-bit sample precision")
            if height == 0 or width == 0:
                raise NotImplementedError(
                    "DNL-deferred frame dimensions (SOF height/width 0)"
                )
            if n_comp not in (1, 3):
                raise NotImplementedError("CMYK/unknown component counts")
            comp_quant = []
            comp_samp = []
            for c in range(n_comp):
                samp, tq = body[7 + 3 * c], body[8 + 3 * c]
                comp_samp.append((samp >> 4, samp & 15))
                comp_quant.append(tq)
            if not (
                all(s == (1, 1) for s in comp_samp)
                or (n_comp == 3 and comp_samp == [(2, 2), (1, 1), (1, 1)])
            ):
                raise NotImplementedError(
                    "only 4:4:4 (all 1x1) and 4:2:0 (Y 2x2, chroma 1x1) "
                    "sampling decode here; other factor combinations (4:2:2/"
                    "4:1:1 and friends) are the external-codec slot"
                )
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "progressive/hierarchical/arithmetic JPEG is the "
                "external-codec slot"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if width is None:
                raise ValueError("SOS before SOF")
            n_scan = body[0]
            if n_scan != len(comp_quant):
                raise NotImplementedError("partial-component scans")
            comps = []
            for c in range(n_scan):
                tsel = body[2 + 2 * c]
                comps.append(
                    (
                        quant_tables[comp_quant[c]],
                        dc_tables[tsel >> 4],
                        ac_tables[tsel & 15],
                    )
                )
            scan_start = i + 2 + seg_len
            return _decode_scan(
                b, scan_start, width, height, comps, comp_samp, restart_interval
            )
        # APPn/COM and anything else: skip
        i += 2 + seg_len
    raise ValueError("JPEG without a scan")


def decode_jpeg_gray(b: bytes) -> tuple[int, int, "list[int]"]:
    """Single-component front door (k87): grayscale baseline decode via
    :func:`decode_jpeg`; color images go through ``decode_jpeg`` itself."""
    w, h, ch, px = decode_jpeg(b)
    if ch != 1:
        raise ValueError("decode_jpeg_gray on a color JPEG — use decode_jpeg")
    return w, h, px


def _decode_scan(
    b: bytes,
    pos: int,
    width: int,
    height: int,
    comps: "list[tuple[list[int], _HuffTable, _HuffTable]]",
    samps: "list[tuple[int, int]]",
    restart_interval: int,
) -> tuple[int, int, int, "list[int]"]:
    """Interleaved baseline scan, generalized over sampling factors: each
    MCU carries h_i x v_i blocks per component i in component order
    (T.81 A.2.3); with all factors 1x1 this is exactly one block per
    component in raster order (the 4:4:4/grayscale layout), with Y at
    2x2 it is the 4:2:0 MCU geometry. Component planes are decoded at
    their natural (possibly quarter) resolution into a padded MCU-grid
    buffer, then sampled up by pure index arithmetic — nearest-neighbor
    replication, x * h_i // h_max — which is exact for the block-constant
    fixture family; fractional/edge-filtered upsampling stays libjpeg's
    slot. The restart interval counts MCUs (for 1x1 that equals blocks,
    so the grayscale DRI semantics are unchanged)."""
    n_comp = len(comps)
    hmax = max(h for h, _ in samps)
    vmax = max(v for _, v in samps)
    mcu_w = (width + 8 * hmax - 1) // (8 * hmax)
    mcu_h = (height + 8 * vmax - 1) // (8 * vmax)
    # padded plane per component: the full MCU grid at that component's
    # block resolution (cropping happens at upsample time)
    pws = [mcu_w * 8 * h for h, _ in samps]
    phs = [mcu_h * 8 * v for _, v in samps]
    planes = [[0] * (pws[ci] * phs[ci]) for ci in range(n_comp)]
    reader = _BitReader(b, pos)
    preds = [0] * n_comp
    rst = 0
    for mi in range(mcu_w * mcu_h):
        if restart_interval and mi and mi % restart_interval == 0:
            reader.align_restart(rst)
            rst += 1
            preds = [0] * n_comp
        my, mx = divmod(mi, mcu_w)
        for ci, (quant, dc_tab, ac_tab) in enumerate(comps):
            ch, cv = samps[ci]
            for blk in range(ch * cv):
                by2, bx2 = divmod(blk, ch)
                # DC
                size = dc_tab.decode(reader)
                diff = _extend(reader.read_bits(size), size)
                preds[ci] += diff
                coeff = [0] * 64
                coeff[0] = preds[ci] * quant[0]
                # AC
                k = 1
                has_ac = False
                while k < 64:
                    sym = ac_tab.decode(reader)
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        k += 16
                        continue
                    run, size = sym >> 4, sym & 15
                    k += run
                    if k > 63:
                        raise ValueError("AC coefficient index out of range")
                    coeff[ZIGZAG[k]] = (
                        _extend(reader.read_bits(size), size) * quant[ZIGZAG[k]]
                    )
                    has_ac = has_ac or coeff[ZIGZAG[k]] != 0
                    k += 1
                plane = planes[ci]
                pw = pws[ci]
                x0 = (mx * ch + bx2) * 8
                y0 = (my * cv + by2) * 8
                if not has_ac:
                    # flat-block fast path: a DC-only block's IDCT is the
                    # constant (dc * _COS[0][x]) * _COS[0][y] — the SAME
                    # float operations the general path performs for its
                    # single nonzero term, so the fast path is bit-exact
                    # with it (and ~500x fewer multiplies; block-constant
                    # content is also what real flat regions decode to)
                    c0 = _COS[0][0]
                    s = (coeff[0] * c0) * c0
                    val = int(math.floor(s + 128.5))
                    val = 0 if val < 0 else (255 if val > 255 else val)
                    for y in range(8):
                        base = (y0 + y) * pw + x0
                        plane[base : base + 8] = [val] * 8
                    continue
                # separable IDCT: rows then columns of the 8x8 block
                tmp = [[0.0] * 8 for _ in range(8)]
                for u in range(8):
                    row = coeff[u * 8 : u * 8 + 8]
                    for x in range(8):
                        tmp[u][x] = sum(row[v] * _COS[v][x] for v in range(8))
                for y in range(8):
                    base = (y0 + y) * pw + x0
                    for x in range(8):
                        s = sum(tmp[u][x] * _COS[u][y] for u in range(8))
                        val = int(math.floor(s + 128.5))  # round half-up + shift
                        plane[base + x] = (
                            0 if val < 0 else (255 if val > 255 else val)
                        )

    if n_comp == 1:
        return (
            width,
            height,
            1,
            [
                planes[0][y * pws[0] + x]
                for y in range(height)
                for x in range(width)
            ],
        )
    out = [0] * (width * height * 3)
    (h0, v0), (h1, v1), (h2, v2) = samps
    p0, p1, p2 = planes
    pw0, pw1, pw2 = pws
    j = 0
    for y in range(height):
        # hoist the per-row chroma/luma row bases; the inner loop is pure
        # index arithmetic (a per-pixel closure call tripled the decode
        # cost on subsampled fixtures — measured in round 9)
        r0 = (y * v0 // vmax) * pw0
        r1 = (y * v1 // vmax) * pw1
        r2 = (y * v2 // vmax) * pw2
        for x in range(width):
            r, g, bl = ycbcr_to_rgb(
                p0[r0 + x * h0 // hmax],
                p1[r1 + x * h1 // hmax],
                p2[r2 + x * h2 // hmax],
            )
            out[j] = r
            out[j + 1] = g
            out[j + 2] = bl
            j += 3
    return width, height, 3, out


def jpeg_pixel_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched pixel statistics over a binary baseline-JPEG payload
    column via the reference decoder (grayscale or 4:4:4 color — stats run
    over the interleaved samples either way) — same shape as
    ``png_pixel_stats``: one Python worker per partition, payload bytes
    never leave the executor."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                w, h, _ch, px = decode_jpeg(bytes(payload))
                rows.append(
                    (int(doc_id), w, h, len(px), sum(px), min(px), max(px))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_px", "px_sum", "px_min", "px_max",
                ],
            )

    return df.mapInPandas(
        stats,
        "doc_id long, width int, height int, n_px long, px_sum long, "
        "px_min int, px_max int",
    )
