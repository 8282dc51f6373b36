"""From-scratch baseline JPEG (round-7 verdict #3) — the last
env-gated media claim becomes a real, oracled codec.

One 8x8 grayscale block per document (the first 64 sanitized text
bytes, the WAV pipeline's plane) round-trips through a REAL
JFIF/JPEG byte stream: level shift -> 2-D DCT -> quantization
(Annex K luminance table) -> zigzag -> DC-difference + AC
run-length -> canonical Huffman coding (Annex K tables, transmitted
in DHT and REPARSED by the decoder) -> marker container
(SOI/APP0/DQT/SOF0/DHT/SOS/EOI, 0xFF byte stuffing) -> full parse
-> entropy decode -> dequantize -> inverse DCT -> clamp.

The DCT is FIXED-POINT INTEGER (13-bit scaled orthonormal cosine
matrix, floor-shift descales — the libjpeg `islow` discipline),
so the decoded plane is integer-deterministic and the DuckDB oracle
can rebuild it from first principles: the same matrix constants,
the same floor-divisions, the same sign-aware quantizer, the same
clamp — per document, per pixel.  JPEG is lossy, so unlike
PNG/Rice the oracle cannot compare against the SOURCE plane; it
certifies the DECODED plane of the self-encoded payload instead
(plus the per-doc max |recon - source| error, which doubles as the
loss-bound report).  The entropy/container layer has no SQL mirror
— it doesn't need one: a single wrong Huffman bit or a missed byte
stuffing changes some quantized coefficient, which changes the
decoded plane, which breaks the value hash.

Spec sources are public: ITU-T T.81 (the JPEG standard; Annex K
tables, F.2.2 decode procedures) and the JFIF 1.02 container note.
At 100 TB this is the image-decode pipeline shape of
multimodal_decode_png_stats with a lossy codec swapped in: Arrow
mapInPandas kernels, fixed-size binary columns, format-agnostic
batching (multimodal.py:440 documents the swap contract).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing_arrow import spread_narrow
from ..io import load_table
from ..registry import register
from .multimodal import _ascii_body, _ascii_px_sql, fuse_batches

JPEG_N = 8  # one 8x8 block per document
JPEG_BODY_LEN = JPEG_N * JPEG_N
_SCALE = 8192  # 13-bit fixed point
_HALF = _SCALE // 2

# Orthonormal DCT-II matrix in 13-bit fixed point:
# M[u][i] = round(s_u * cos((2i+1) * u * pi / 16) * 8192),
# s_0 = 1/sqrt(8), s_u>0 = 1/2.  M is its own documentation: the
# forward transform is M X M^T, the inverse M^T Y M, each matmul
# descaled by floor((t + 4096) / 8192).
M_FIX = np.array(
    [
        [
            round(
                (math.sqrt(1 / 8) if u == 0 else 0.5)
                * math.cos((2 * i + 1) * u * math.pi / 16)
                * _SCALE
            )
            for i in range(8)
        ]
        for u in range(8)
    ],
    dtype=np.int64,
)

# Annex K.1 luminance quantization table (row-major u, v).
QTAB = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)

# Zigzag scan order: ZIGZAG[k] = (row, col) of the k-th coefficient.
def _zigzag_order() -> list[tuple[int, int]]:
    order = sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (
            rc[0] + rc[1],
            rc[1] if (rc[0] + rc[1]) % 2 == 0 else rc[0],
        ),
    )
    return order


ZIGZAG = _zigzag_order()

# Annex K.3.1 luminance DC table: BITS (codes per length 1..16) and
# HUFFVAL (symbols in code order).
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))

# Annex K.3.2 luminance AC table.
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
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


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical construction
    (T.81 C.2: codes of each length assigned in symbol order,
    doubling the code when the length grows)."""
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


_DC_ENC = _canonical_codes(DC_BITS, DC_VALS)
_AC_ENC = _canonical_codes(AC_BITS, AC_VALS)


class _BitWriter:
    """MSB-first bit writer with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self._bytes = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, nbits: int) -> None:
        for k in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> k) & 1)
            self._nbits += 1
            if self._nbits == 8:
                self._bytes.append(self._acc)
                if self._acc == 0xFF:  # marker escape
                    self._bytes.append(0x00)
                self._acc = 0
                self._nbits = 0

    def flush(self) -> bytes:
        if self._nbits:
            pad = 8 - self._nbits
            self._acc = (self._acc << pad) | ((1 << pad) - 1)  # 1-fill
            self._bytes.append(self._acc)
            if self._acc == 0xFF:
                self._bytes.append(0x00)
            self._acc = 0
            self._nbits = 0
        return bytes(self._bytes)


def _csize(v: int) -> int:
    """SSSS category of a coefficient value (0 for 0)."""
    return abs(v).bit_length()


def int_fdct(shifted: np.ndarray) -> np.ndarray:
    """Fixed-point forward DCT of a level-shifted int64 8x8 block:
    two descaled integer matmul passes."""
    t = np.floor_divide(M_FIX @ shifted + _HALF, _SCALE)
    return np.floor_divide(t @ M_FIX.T + _HALF, _SCALE)


def quantize(coefs: np.ndarray) -> np.ndarray:
    """Sign-aware round-half-away quantizer (mirrored in SQL)."""
    return np.sign(coefs) * ((np.abs(coefs) + QTAB // 2) // QTAB)


def int_idct(dequant: np.ndarray) -> np.ndarray:
    """Fixed-point inverse DCT + level unshift + clamp."""
    t = np.floor_divide(M_FIX.T @ dequant + _HALF, _SCALE)
    x = np.floor_divide(t @ M_FIX + _HALF, _SCALE)
    return np.clip(x + 128, 0, 255)


def reference_decoded_plane(block: np.ndarray) -> np.ndarray:
    """The plane any correct decoder must produce for our encoder's
    output on `block` (uint8 8x8): the entropy/container layer is
    lossless over the quantized coefficients, so decode(encode(x))
    == idct(quant(fdct(x - 128)) * QTAB) exactly."""
    f = int_fdct(block.astype(np.int64) - 128)
    return int_idct(quantize(f) * QTAB)


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload


def encode_jpeg(block: np.ndarray) -> bytes:
    """Encode one 8x8 uint8 grayscale block as a complete JFIF/JPEG
    byte stream (baseline sequential, one component, standard
    Annex K tables)."""
    assert block.shape == (JPEG_N, JPEG_N)
    f = quantize(int_fdct(block.astype(np.int64) - 128))
    zz = [int(f[r][c]) for r, c in ZIGZAG]

    w = _BitWriter()
    # DC: single block, predictor 0
    diff = zz[0]
    size = _csize(diff)
    code, length = _DC_ENC[size]
    w.write(code, length)
    if size:
        w.write(diff if diff > 0 else diff + (1 << size) - 1, size)
    # AC run-length
    k = 1
    run = 0
    while k < 64:
        if zz[k] == 0:
            run += 1
            k += 1
            continue
        while run > 15:
            zc, zl = _AC_ENC[0xF0]  # ZRL
            w.write(zc, zl)
            run -= 16
        size = _csize(zz[k])
        code, length = _AC_ENC[(run << 4) | size]
        w.write(code, length)
        v = zz[k]
        w.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
        k += 1
    if run:  # trailing zeros -> EOB
        code, length = _AC_ENC[0x00]
        w.write(code, length)
    entropy = w.flush()

    qzz = bytes(int(QTAB[r][c]) for r, c in ZIGZAG)
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, b"\x00" + qzz)  # DQT: Pq=0 Tq=0
    out += _seg(
        0xC0,
        b"\x08"
        + JPEG_N.to_bytes(2, "big")
        + JPEG_N.to_bytes(2, "big")
        + b"\x01"  # 1 component
        + b"\x01\x11\x00",  # id 1, 1x1 sampling, quant table 0
    )
    out += _seg(
        0xC4,
        b"\x00"
        + bytes(DC_BITS)
        + bytes(DC_VALS)
        + b"\x10"
        + bytes(AC_BITS)
        + bytes(AC_VALS),
    )
    out += _seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; stops at any real marker."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self._buf = buf
        self._pos = pos
        self._acc = 0
        self._nbits = 0

    def _fill(self) -> None:
        b = self._buf[self._pos]
        if b == 0xFF:
            nxt = self._buf[self._pos + 1]
            if nxt != 0x00:
                raise ValueError("bit reader ran into a marker")
            self._pos += 2
        else:
            self._pos += 1
        self._acc = (self._acc << 8) | b
        self._nbits += 8

    def read(self, nbits: int) -> int:
        while self._nbits < nbits:
            self._fill()
        self._nbits -= nbits
        v = (self._acc >> self._nbits) & ((1 << nbits) - 1)
        self._acc &= (1 << self._nbits) - 1
        return v

    def end(self) -> int:
        """Byte position of the next marker after discarding pad
        bits."""
        return self._pos


def _build_decode_table(
    bits: list[int], vals: list[int]
) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, from a parsed DHT spec."""
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


def _huff_decode(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map `size` received bits to a signed
    coefficient."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Full parse of a baseline single-component 8x8 JPEG produced
    by any conforming encoder of this profile: markers walked, DQT
    and DHT read FROM THE STREAM (never assumed), entropy decoded
    per F.2.2, dequantized, inverse-DCT'd, clamped.  Returns the
    uint8 8x8 plane."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("missing SOI")
    pos = 2
    qtab = None
    dc_table = ac_table = None
    width = height = None
    while pos < len(buf):
        if buf[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = buf[pos + 1]
        if marker == 0xD9:  # EOI
            raise ValueError("EOI before SOS")
        seglen = int.from_bytes(buf[pos + 2 : pos + 4], "big")
        body = buf[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables)
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 15
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                vals = body[off + 1 : off + 65]
                t = np.zeros((8, 8), dtype=np.int64)
                for k, (r, c) in enumerate(ZIGZAG):
                    t[r][c] = vals[k]
                if tq == 0:
                    qtab = t
                off += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 15
                bits = list(body[off + 1 : off + 17])
                n = sum(bits)
                vals = list(body[off + 17 : off + 17 + n])
                table = _build_decode_table(bits, vals)
                if th == 0 and tc == 0:
                    dc_table = table
                elif th == 0 and tc == 1:
                    ac_table = table
                off += 17 + n
        elif marker == 0xC0:  # SOF0
            if body[0] != 8 or body[5] != 1:
                raise ValueError("baseline 8-bit single-component only")
            height = int.from_bytes(body[1:3], "big")
            width = int.from_bytes(body[3:5], "big")
        elif marker == 0xDA:  # SOS -> entropy data follows
            if qtab is None or dc_table is None or ac_table is None:
                raise ValueError("SOS before tables")
            if (width, height) != (JPEG_N, JPEG_N):
                raise ValueError(f"unsupported dims {width}x{height}")
            r = _BitReader(buf, pos)
            zz = [0] * 64
            size = _huff_decode(r, dc_table)
            zz[0] = _extend(r.read(size), size) if size else 0
            k = 1
            while k < 64:
                rs = _huff_decode(r, ac_table)
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += rs >> 4
                s = rs & 15
                zz[k] = _extend(r.read(s), s)
                k += 1
            coefs = np.zeros((8, 8), dtype=np.int64)
            for k, (rr, cc) in enumerate(ZIGZAG):
                coefs[rr][cc] = zz[k]
            plane = int_idct(coefs * qtab)
            return plane.astype(np.uint8)
        elif marker == 0xE0:  # APP0 — skip
            pass
        else:
            raise ValueError(f"unsupported marker 0x{marker:02x}")
    raise ValueError("no SOS segment")


# ---------------------------------------------------------------
# Spark pipeline
# ---------------------------------------------------------------


def _encode_jpeg_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        imgs = []
        for b in pdf["body"]:
            block = np.frombuffer(bytes(b), dtype=np.uint8).reshape(
                JPEG_N, JPEG_N
            )
            imgs.append(encode_jpeg(block))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "body": pdf["body"], "img": imgs}
        )


def build_jpeg_payloads(d: DataFrame) -> DataFrame:
    """Assemble a REAL JPEG per document: the first 64 sanitized
    text bytes become one 8x8 grayscale block (same plane contract
    as the WAV pipeline: `_ascii_body` guarantees byte == ascii(char)
    for any input).  The source plane rides along for the loss-bound
    column."""
    return spread_narrow(_jpeg_src(d)).mapInPandas(
        _encode_jpeg_batches, schema="doc_id bigint, body binary, img binary"
    )


def _jpeg_src(d: DataFrame) -> DataFrame:
    body = _ascii_body(JPEG_BODY_LEN)
    return d.select("doc_id", F.encode(body, "UTF-8").alias("body"))


JPEG_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, p_sum bigint, "
    "p_min bigint, p_max bigint, max_abs_err bigint"
)


def _decode_jpeg_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, body, img in zip(pdf["doc_id"], pdf["body"], pdf["img"]):
            plane = decode_jpeg(bytes(img)).astype(np.int64)
            src = np.frombuffer(bytes(body), dtype=np.uint8).reshape(
                JPEG_N, JPEG_N
            ).astype(np.int64)
            out.append(
                (
                    doc_id,
                    JPEG_N,
                    JPEG_N,
                    int(plane.sum()),
                    int(plane.min()),
                    int(plane.max()),
                    int(np.abs(plane - src).max()),
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id",
                "width",
                "height",
                "p_sum",
                "p_min",
                "p_max",
                "max_abs_err",
            ],
        )


def multimodal_decode_jpeg_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END lossy-codec decode: documents -> real JFIF/JPEG
    payloads -> full from-scratch parse + Huffman decode + integer
    IDCT -> decoded-plane stats + per-doc loss bound.  The oracle
    rebuilds the decoded plane from first principles in SQL (same
    fixed-point constants, same floor-shifts, same quantizer), so a
    single wrong bit anywhere — DCT, tables, zigzag, Huffman, byte
    stuffing, parser — breaks the value hash."""
    d = load_table(spark, sf_dir, "documents")
    stats = spread_narrow(_jpeg_src(d)).mapInPandas(
        fuse_batches(_encode_jpeg_batches, _decode_jpeg_stats_batches),
        schema=JPEG_STATS_SCHEMA,
    )
    return stats.orderBy("doc_id")


def _fdiv(x: str, d: int) -> str:
    """Floor division in DuckDB (its integer `//` truncates toward
    zero; Python/numpy floor) — exact in double far below 2^53."""
    return f"CAST(floor(({x}) / {d}.0) AS BIGINT)"


def _jpeg_oracle_sql() -> str:
    m_rows = ", ".join(
        f"({u}, {i}, {int(M_FIX[u][i])})" for u in range(8) for i in range(8)
    )
    q_rows = ", ".join(
        f"({r}, {c}, {int(QTAB[r][c])})" for r in range(8) for c in range(8)
    )
    half = _HALF
    return f"""
WITH mconst(u, i, m) AS (SELECT * FROM (VALUES {m_rows})),
qtab(r, c, q) AS (SELECT * FROM (VALUES {q_rows})),
px AS (
  SELECT doc_id, (j - 1) // 8 AS r, (j - 1) % 8 AS c,
         CAST(ascii(substring(body, j, 1)) AS BIGINT) - 128 AS v
  FROM (
    SELECT doc_id, {_ascii_px_sql(JPEG_BODY_LEN)} AS body FROM documents
  ) p, generate_series(1, {JPEG_BODY_LEN}) AS g(j)
),
t1 AS (
  SELECT p.doc_id, m.u AS u, p.c AS j,
         {_fdiv('sum(m.m * p.v) + ' + str(half), _SCALE)} AS v
  FROM px p JOIN mconst m ON m.i = p.r
  GROUP BY p.doc_id, m.u, p.c
),
fd AS (
  SELECT t.doc_id, t.u AS u, m.u AS vv,
         {_fdiv('sum(m.m * t.v) + ' + str(half), _SCALE)} AS v
  FROM t1 t JOIN mconst m ON m.i = t.j
  GROUP BY t.doc_id, t.u, m.u
),
qd AS (
  SELECT f.doc_id, f.u, f.vv,
         (CASE WHEN f.v >= 0 THEN (f.v + q.q // 2) // q.q
               ELSE -((-f.v + q.q // 2) // q.q) END) * q.q AS v
  FROM fd f JOIN qtab q ON q.r = f.u AND q.c = f.vv
),
i1 AS (
  SELECT d.doc_id, m.i AS i, d.vv AS vv,
         {_fdiv('sum(m.m * d.v) + ' + str(half), _SCALE)} AS v
  FROM qd d JOIN mconst m ON m.u = d.u
  GROUP BY d.doc_id, m.i, d.vv
),
recon AS (
  SELECT t.doc_id, t.i AS r, m.i AS c,
         least(greatest({_fdiv('sum(m.m * t.v) + ' + str(half), _SCALE)}
                        + 128, 0), 255) AS p
  FROM i1 t JOIN mconst m ON m.u = t.vv
  GROUP BY t.doc_id, t.i, m.i
)
SELECT r.doc_id,
       CAST({JPEG_N} AS INTEGER) AS width,
       CAST({JPEG_N} AS INTEGER) AS height,
       CAST(sum(r.p) AS BIGINT) AS p_sum,
       CAST(min(r.p) AS BIGINT) AS p_min,
       CAST(max(r.p) AS BIGINT) AS p_max,
       CAST(max(abs(r.p - (s.v + 128))) AS BIGINT) AS max_abs_err
FROM recon r
JOIN px s ON s.doc_id = r.doc_id AND s.r = r.r AND s.c = r.c
GROUP BY r.doc_id
ORDER BY r.doc_id
"""


MULTIMODAL_DECODE_JPEG_STATS_ORACLE = _jpeg_oracle_sql()

register(
    "multimodal_decode_jpeg_stats",
    multimodal_decode_jpeg_stats,
    MULTIMODAL_DECODE_JPEG_STATS_ORACLE,
)


# ---------------------------------------------------------------------------
# Perceptual hash (pHash) near-dup — the multimodal twin of the
# text near-dup family: fingerprint = sign pattern of the
# low-frequency DCT block against its median (the classic pHash
# construction: DCT -> keep the top-left low-frequency block ->
# bit_k = coef_k > median).  Because our DCT is fixed-point integer
# (M_FIX above), the fingerprint is integer-deterministic and the
# DuckDB oracle rebuilds BOTH hashes from first principles — the
# source plane's and the JPEG-DECODED plane's — so the query also
# certifies the property perceptual hashing exists for: the
# fingerprint (mostly) survives lossy compression, reported per-doc
# as ham_codec = popcount(phash_src XOR phash_dec).
#
# Dedup shape: docs sharing phash_dec form a family (exact-bucket
# grouping — the LSH-bucket shape: one shuffle on the 15-bit key).
# At 100 TB, Hamming<=k retrieval splits the hash into k+1 bands
# and joins per band (the multi-index of Norouzi et al., CVPR 2012)
# — same machinery as dedup_minhash_lsh's banding; the exact-bucket
# form here is the k=0 rung of that ladder.

PHASH_LF = 4                      # low-frequency block is 4x4
PHASH_NBITS = PHASH_LF * PHASH_LF - 1  # 15 AC coefficients (DC excluded)


def phash_of_plane(plane: np.ndarray) -> int:
    """15-bit pHash of an 8x8 uint8 plane: integer DCT, 4x4
    low-frequency block minus DC, bit k set iff coef > median
    (median of 15 = the 8th smallest, integer-exact)."""
    co = int_fdct(plane.astype(np.int64) - 128)
    ac = co[:PHASH_LF, :PHASH_LF].flatten()[1:]
    med = np.median(ac)
    bits = 0
    for k, v in enumerate(ac):
        if v > med:
            bits |= 1 << k
    return bits


def _phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, body, img in zip(pdf["doc_id"], pdf["body"], pdf["img"]):
            src = np.frombuffer(bytes(body), dtype=np.uint8).reshape(
                JPEG_N, JPEG_N
            )
            dec = decode_jpeg(bytes(img)).astype(np.uint8)
            ps = phash_of_plane(src)
            pdc = phash_of_plane(dec)
            out.append((doc_id, ps, pdc, bin(ps ^ pdc).count("1")))
        yield pd.DataFrame(
            out, columns=["doc_id", "phash_src", "phash_dec", "ham_codec"]
        )


def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash the corpus' image payloads (source AND
    decoded planes), report codec robustness per doc, and group
    exact-fingerprint families."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    ph = spread_narrow(_jpeg_src(d)).mapInPandas(
        fuse_batches(_encode_jpeg_batches, _phash_batches),
        schema="doc_id bigint, phash_src bigint, phash_dec bigint, "
        "ham_codec bigint",
    )
    w = Window.partitionBy("phash_dec")
    return (
        ph.withColumn("family_size", F.count("*").over(w).cast("long"))
        .withColumn("is_dup", F.col("family_size") > 1)
        .orderBy("doc_id")
    )


def _phash_chain_sql(src_rel: str, prefix: str) -> str:
    """CTE fragment: forward fixed-point DCT of `src_rel(doc_id, r,
    c, v)` (v already level-shifted), then the 15-bit pHash fold.
    Emits CTEs {prefix}1, {prefix}2, {prefix}m, {prefix}h; the hash
    lands in {prefix}h(doc_id, ph)."""
    lf = PHASH_LF
    return f"""{prefix}1 AS (
  SELECT p.doc_id, m.u AS u, p.c AS j,
         {_fdiv('sum(m.m * p.v) + ' + str(_HALF), _SCALE)} AS v
  FROM {src_rel} p JOIN mconst m ON m.i = p.r
  GROUP BY p.doc_id, m.u, p.c
),
{prefix}2 AS (
  SELECT t.doc_id, t.u AS u, m.u AS vv,
         {_fdiv('sum(m.m * t.v) + ' + str(_HALF), _SCALE)} AS v
  FROM {prefix}1 t JOIN mconst m ON m.i = t.j
  GROUP BY t.doc_id, t.u, m.u
),
{prefix}m AS (
  SELECT doc_id, quantile_disc(v, 0.5) AS med
  FROM {prefix}2 WHERE u < {lf} AND vv < {lf} AND NOT (u = 0 AND vv = 0)
  GROUP BY doc_id
),
{prefix}h AS (
  SELECT s.doc_id,
         CAST(sum(CASE WHEN s.v > m.med
                  THEN CAST(1 AS BIGINT) << (s.u * {lf} + s.vv - 1)
                  ELSE 0 END) AS BIGINT) AS ph
  FROM {prefix}2 s JOIN {prefix}m m ON m.doc_id = s.doc_id
  WHERE s.u < {lf} AND s.vv < {lf} AND NOT (s.u = 0 AND s.vv = 0)
  GROUP BY s.doc_id
)"""


def _phash_oracle_sql() -> str:
    m_rows = ", ".join(
        f"({u}, {i}, {int(M_FIX[u][i])})" for u in range(8) for i in range(8)
    )
    q_rows = ", ".join(
        f"({r}, {c}, {int(QTAB[r][c])})" for r in range(8) for c in range(8)
    )
    half = _HALF
    return f"""
WITH mconst(u, i, m) AS (SELECT * FROM (VALUES {m_rows})),
qtab(r, c, q) AS (SELECT * FROM (VALUES {q_rows})),
px AS (
  SELECT doc_id, (j - 1) // 8 AS r, (j - 1) % 8 AS c,
         CAST(ascii(substring(body, j, 1)) AS BIGINT) - 128 AS v
  FROM (
    SELECT doc_id, {_ascii_px_sql(JPEG_BODY_LEN)} AS body FROM documents
  ) p, generate_series(1, {JPEG_BODY_LEN}) AS g(j)
),
{_phash_chain_sql('px', 's')},
qd AS (
  SELECT f.doc_id, f.u, f.vv,
         (CASE WHEN f.v >= 0 THEN (f.v + q.q // 2) // q.q
               ELSE -((-f.v + q.q // 2) // q.q) END) * q.q AS v
  FROM s2 f JOIN qtab q ON q.r = f.u AND q.c = f.vv
),
i1 AS (
  SELECT d.doc_id, m.i AS i, d.vv AS vv,
         {_fdiv('sum(m.m * d.v) + ' + str(half), _SCALE)} AS v
  FROM qd d JOIN mconst m ON m.u = d.u
  GROUP BY d.doc_id, m.i, d.vv
),
recon AS (
  SELECT t.doc_id, t.i AS r, m.i AS c,
         least(greatest({_fdiv('sum(m.m * t.v) + ' + str(half), _SCALE)}
                        + 128, 0), 255) - 128 AS v
  FROM i1 t JOIN mconst m ON m.u = t.vv
  GROUP BY t.doc_id, t.i, m.i
),
{_phash_chain_sql('recon', 'd')},
fused AS (
  SELECT s.doc_id, s.ph AS phash_src, d.ph AS phash_dec,
         CAST(bit_count(xor(s.ph, d.ph)) AS BIGINT) AS ham_codec
  FROM sh s JOIN dh d ON d.doc_id = s.doc_id
)
SELECT doc_id, phash_src, phash_dec, ham_codec,
       CAST(count(*) OVER (PARTITION BY phash_dec) AS BIGINT)
         AS family_size,
       count(*) OVER (PARTITION BY phash_dec) > 1 AS is_dup
FROM fused
ORDER BY doc_id
"""


MULTIMODAL_PHASH_NEARDUP_ORACLE = _phash_oracle_sql()

register(
    "multimodal_phash_neardup",
    multimodal_phash_neardup,
    MULTIMODAL_PHASH_NEARDUP_ORACLE,
)


# ---------------------------------------------------------------------------
# Hamming<=k pHash pairs via the multi-index (Norouzi, Punjani &
# Fleet, CVPR 2012 "Fast Search in Hamming Space with Multi-Index
# Hashing") — the scale path promised by multimodal_phash_neardup's
# exact-bucket rung: split the 15-bit fingerprint into HAM_BANDS=3
# disjoint 5-bit bands; by pigeonhole, any pair within Hamming
# distance HAM_MAX=2 agrees EXACTLY on at least one band, so the
# band-wise equi-join is a candidate set with DETERMINISTIC recall 1
# (the containment-ensemble guarantee, transplanted to Hamming
# space).  Verification is one popcount per candidate pair.
#
# Scale shape: 3 equi-joins on 5-bit band keys (band tables are the
# corpus re-keyed — one shuffle each), candidate dedup via DISTINCT,
# |candidates| ~ sum of squared bucket sizes / 2 — the same
# quadratic-in-bucket geometry the dedup family's DF caps bound;
# 2^5 buckets per band is fixture-sized, at real scale widen bands
# with the hash (64-bit pHash -> 8-bit bands for k<=7).

HAM_BANDS = 3
HAM_BAND_BITS = 5
HAM_MAX = 2


def multimodal_phash_hamming_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """All doc pairs whose decoded-plane pHashes differ in at most
    HAM_MAX of 15 bits, found via the 3-band multi-index."""
    d = load_table(spark, sf_dir, "documents")
    # the fingerprint table is doc-count-sized (two bigints/doc) but
    # its lineage is the full JPEG encode+decode kernel; the band
    # self-join reads it from BOTH sides, which would run the codec
    # kernel twice (4 mapInPandas instances in the lazy plan).
    # localCheckpoint materializes fingerprints ONCE — also the
    # 100 TB shape: hash the corpus once, then index the hashes.
    ph = (
        spread_narrow(_jpeg_src(d))
        .mapInPandas(
            fuse_batches(_encode_jpeg_batches, _phash_batches),
            schema="doc_id bigint, phash_src bigint, phash_dec bigint, "
            "ham_codec bigint",
        )
        .select("doc_id", "phash_dec")
        .localCheckpoint()
    )
    bands = ph.select(
        "doc_id",
        "phash_dec",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("phash_dec", b * HAM_BAND_BITS).bitwiseAND(
                        (1 << HAM_BAND_BITS) - 1
                    )
                    for b in range(HAM_BANDS)
                ]
            )
        ).alias("b", "bv"),
    )
    a, bb = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.phash_dec").alias("pa"),
            F.col("b.phash_dec").alias("pb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "ham", F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("long")
        )
        .where(F.col("ham") <= HAM_MAX)
        .select("doc_a", "doc_b", "ham")
        .orderBy("doc_a", "doc_b")
    )


def _phash_hamming_oracle_sql() -> str:
    """INDEPENDENT oracle: the full first-principles pHash rebuild,
    then the NAIVE quadratic Hamming filter — so the banded
    candidate path is differentially tested against an oracle that
    never bands (recall 1 is checked, not mirrored)."""
    base = _phash_oracle_sql()
    # reuse everything up to `fused`, replace the final projection
    head = base[: base.rindex("SELECT doc_id, phash_src")]
    return f"""{head}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash_dec, b.phash_dec)) AS BIGINT) AS ham
FROM fused a JOIN fused b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash_dec, b.phash_dec)) <= {HAM_MAX}
ORDER BY doc_a, doc_b
"""


MULTIMODAL_PHASH_HAMMING_ORACLE = _phash_hamming_oracle_sql()

register(
    "multimodal_phash_hamming_pairs",
    multimodal_phash_hamming_pairs,
    MULTIMODAL_PHASH_HAMMING_ORACLE,
)
