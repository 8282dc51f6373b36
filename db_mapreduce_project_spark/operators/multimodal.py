"""Multimodal column handling: opaque binary payloads with typed
metadata, processed by Arrow-batched pandas UDFs over mapInPandas.

The decode path is REAL for three containers:
- netpbm P6 (binary PPM): `decode_ppm` is a from-scratch
  pure-Python parser (header tokenizer with comment handling,
  maxval validation, exact-length raw sample read);
  `multimodal_decode_stats` runs it inside the Arrow kernel over
  P6 payloads assembled Spark-side.
- PNG: `decode_png` is a from-scratch public-spec decoder —
  chunk walk with CRC32 verification, IHDR validation, multi-IDAT
  zlib inflate (CPython's stdlib zlib; no native image library),
  and full unfiltering of all five scanline filter types;
  `multimodal_decode_png_stats` round-trips real deflate-compressed
  payloads (built by the independent `encode_png`, cycling every
  filter type) under the same value-hash oracle.
- RIFF/WAVE (PCM16): `decode_wav` is a from-scratch RIFF chunk
  walker (magic + form validation, odd-chunk pad bytes, unknown
  chunks skipped, fmt-before-data ordering, PCM16 contract
  enforcement); `multimodal_decode_wav_stats` round-trips real
  stereo payloads built by the independent `encode_wav` under a
  value-hash oracle on the sample plane.
Entropy coding is real on both media paths: PNG rides stdlib
zlib's DEFLATE, and the Rice audio codec (order-1 prediction +
Golomb-Rice bitstream, the FLAC residual-coder shape) is written
bit-for-bit in this module.  Baseline JPEG (fixed-point DCT +
Annex K quantization + canonical Huffman in a full JFIF marker
container) is from-scratch too — see operators/jpeg.py.  Round 8
adds GIF87a/LZW (seventh codec) AND a multi-frame GIF89a animation
pipeline (`multimodal_video_frame_stats`): container walk over
extension blocks + per-sampled-frame LZW decode — the video
frame-sampling stage over a real multi-frame container — plus a
from-scratch FLAC subset (operators/flac.py; the WAV->FLAC->stats
pipeline below).  Only CODEC video (H.264/VP9) and MP3 remain
env-gated: they genuinely need native libraries this environment
doesn't ship; they would plug into the same kernels via the
identical (binary -> parsed array -> stats) shape.
`fake_features` remains the deterministic stand-in
featurizer for the generic-binary queries.

Scale: mapInPandas streams Arrow record batches — constant memory
per task regardless of partition size; binary payloads never pass
through Python row-by-row between operators (the per-image parse
loop inside a batch is the decode itself, exactly where a JPEG
decoder would sit).  The oracles reproduce the arithmetic in SQL
(the fixture text is ASCII, so byte == codepoint).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing_arrow import spread_narrow
from ..io import load_table
from ..registry import register

FEATURE_SCHEMA = (
    "doc_id bigint, byte_len bigint, first_byte int, head_sum bigint"
)

HEAD_N = 64

# multimodal_decode_stats image geometry: 4x4 RGB => 48 raw sample
# bytes per P6 payload, sourced from the first 48 text bytes
# (rpad'ed so every doc yields a full image)
PPM_W = 4
PPM_H = 4
_PPM_BODY_LEN = PPM_W * PPM_H * 3

_WS = b" \t\r\n"


def decode_ppm(buf: bytes) -> tuple[int, int, int, bytes]:
    """Pure-Python netpbm P6 (binary PPM) decoder: parses the ASCII
    header (magic, width, height, maxval; '#' comments and runs of
    whitespace between tokens per the netpbm spec), then reads
    exactly width*height*3 raw sample bytes after the single
    whitespace byte that terminates the header.  Returns
    (width, height, maxval, samples).  Raises ValueError on a wrong
    magic, an unsupported >8-bit maxval, or truncated samples —
    malformed payloads must fail loudly, not yield garbage stats."""
    pos = 0

    def _token() -> bytes:
        nonlocal pos
        while pos < len(buf):
            c = buf[pos]
            if c in _WS:
                pos += 1
            elif c == 0x23:  # '#' comment runs to end of line
                while pos < len(buf) and buf[pos] != 0x0A:
                    pos += 1
            else:
                break
        start = pos
        while pos < len(buf) and buf[pos] not in _WS:
            pos += 1
        return buf[start:pos]

    magic = _token()
    if magic != b"P6":
        raise ValueError(f"not a binary PPM (P6): magic={magic!r}")
    try:
        width, height, maxval = int(_token()), int(_token()), int(_token())
    except ValueError as e:
        raise ValueError(f"malformed PPM header: {e}") from None
    if not 0 < maxval < 256:
        raise ValueError(f"only 8-bit PPM supported (maxval={maxval})")
    pos += 1  # exactly one whitespace byte after maxval, per spec
    need = width * height * 3
    have = len(buf) - pos
    # exact-length contract, BOTH directions: short = truncated,
    # long = the payload wasn't byte-counted (e.g. a multi-byte
    # UTF-8 char slipped into a char-counted body) — silently
    # slicing `need` bytes would diverge from the codepoint-summing
    # oracle, so oversize must fail as loudly as truncation.
    if have != need:
        raise ValueError(
            f"bad PPM body: need exactly {need} sample bytes, have {have}"
        )
    return width, height, maxval, buf[pos:]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_BPP = 3  # 8-bit RGB (color type 2)


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): pick the neighbor (left a,
    up b, up-left c) closest to the linear estimate a + b - c, ties
    broken left > up > up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(width: int, height: int, samples: bytes) -> bytes:
    """Minimal from-scratch PNG writer (public spec, RFC 2083 /
    ISO 15948): 8-bit RGB, no interlace.  The filter type CYCLES
    0..4 per scanline (None, Sub, Up, Average, Paeth) so a decoder
    of these payloads must implement every unfilter path — this is
    deliberately NOT filter-0-only.  Chunks carry real CRC32s;
    IDAT is real zlib (stdlib) deflate.  Used by the PNG payload
    builder kernel and as the independent encode half of the
    round-trip tests."""
    if len(samples) != width * height * _PNG_BPP:
        raise ValueError("samples length != width*height*3")
    stride = width * _PNG_BPP
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = samples[y * stride : (y + 1) * stride]
        ftype = y % 5
        filt = bytearray(stride)
        for x in range(stride):
            a = line[x - _PNG_BPP] if x >= _PNG_BPP else 0
            b = prev[x]
            c = prev[x - _PNG_BPP] if x >= _PNG_BPP else 0
            if ftype == 0:
                filt[x] = line[x]
            elif ftype == 1:  # Sub
                filt[x] = (line[x] - a) & 0xFF
            elif ftype == 2:  # Up
                filt[x] = (line[x] - b) & 0xFF
            elif ftype == 3:  # Average
                filt[x] = (line[x] - (a + b) // 2) & 0xFF
            else:  # Paeth
                filt[x] = (line[x] - _paeth(a, b, c)) & 0xFF
        raw.append(ftype)
        raw.extend(filt)
        prev = line

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def decode_png(buf: bytes) -> tuple[int, int, bytes]:
    """From-scratch PNG decoder (public spec): signature check,
    chunk walk with CRC32 verification, IHDR validation (8-bit RGB
    color type 2, no interlace — the payload contract of
    build_png_payloads; anything else fails loudly), multi-IDAT
    zlib inflate (stdlib zlib is pure CPython stdlib — no native
    image library involved), and full scanline UNFILTERING for all
    five filter types (None/Sub/Up/Average/Paeth, spec §9).
    Returns (width, height, samples) with samples in row-major RGB
    order — the same contract as :func:`decode_ppm`.

    Malformed payloads (bad signature, CRC mismatch, truncated
    chunk or IDAT, unknown filter type, wrong decompressed length)
    raise ValueError — garbage stats must be impossible."""
    if buf[:8] != _PNG_SIG:
        raise ValueError(f"not a PNG: signature={buf[:8]!r}")
    pos = 8
    width = height = None
    idat = bytearray()
    saw_iend = False
    while pos < len(buf):
        if pos + 8 > len(buf):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(buf):
            raise ValueError(f"truncated {ctype!r} chunk")
        (crc,) = struct.unpack(
            ">I", buf[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            # validate the declared length BEFORE unpacking: a
            # 13-byte format string on non-13 data raises
            # struct.error, breaking the ValueError-only contract
            if length != 13:
                raise ValueError(f"IHDR length must be 13, got {length}")
            width, height, depth, color, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, color, comp, filt, inter) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "only 8-bit RGB non-interlaced supported, got "
                    f"depth={depth} color={color} interlace={inter}"
                )
        elif ctype == b"IDAT":
            # spec §5.6: IDAT must come after IHDR
            if width is None:
                raise ValueError("IDAT chunk before IHDR")
            idat.extend(data)
        elif ctype == b"IEND":
            saw_iend = True
            break
        pos += 12 + length
    if width is None or not saw_iend or not idat:
        raise ValueError("missing IHDR, IDAT, or IEND")
    raw = zlib.decompress(bytes(idat))
    stride = width * _PNG_BPP
    if len(raw) != (stride + 1) * height:
        raise ValueError(
            f"bad IDAT payload: need {(stride + 1) * height} filtered "
            f"bytes, have {len(raw)}"
        )
    out = bytearray(stride * height)
    prev = bytes(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for x in range(stride):
                a = line[x - _PNG_BPP] if x >= _PNG_BPP else 0
                line[x] = (line[x] + a) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = line[x - _PNG_BPP] if x >= _PNG_BPP else 0
                line[x] = (line[x] + (a + prev[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = line[x - _PNG_BPP] if x >= _PNG_BPP else 0
                c = prev[x - _PNG_BPP] if x >= _PNG_BPP else 0
                line[x] = (line[x] + _paeth(a, prev[x], c)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype} on row {y}")
        out[y * stride : (y + 1) * stride] = line
        prev = bytes(line)
    return width, height, bytes(out)


def fake_features(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake 'decode': (byte length, first byte, sum of
    first 64 bytes).  Stands in for decode->resize->embed."""
    return (
        len(payload),
        payload[0] if payload else -1,
        sum(payload[:HEAD_N]),
    )


def _featurize_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = pdf["payload"].map(fake_features)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": feats.map(lambda t: t[0]),
                "first_byte": feats.map(lambda t: t[1]),
                "head_sum": feats.map(lambda t: t[2]),
            }
        )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-cast as an opaque binary payload column,
    featurized via mapInPandas (Arrow batches)."""
    d = load_table(spark, sf_dir, "documents")
    payloads = d.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    feats = payloads.mapInPandas(_featurize_batches, schema=FEATURE_SCHEMA)
    return feats.orderBy("doc_id")


MULTIMODAL_FEATURES_ORACLE = f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(CASE WHEN length(text) = 0 THEN -1
            ELSE ascii(substring(text, 1, 1)) END AS INTEGER) AS first_byte,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(substring(text, 1, {HEAD_N}), ''),
                           c -> CAST(ascii(c) AS BIGINT))),
            (a, b) -> a + b) AS BIGINT) AS head_sum
FROM documents
ORDER BY doc_id
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Frame sampling' over the binary payload: every 16th byte of
    the first 128 bytes (the video-frame-stride pattern), emitted
    long-format via posexplode of a sliced byte array.  Pure
    Catalyst — binary slicing stays JVM-side."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    # positions 1, 17, 33, ... ,113 (1-based), clipped to payload len
    frames = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: F.struct(
                i.alias("frame_no"),
                F.ascii(
                    F.substring(F.col("text"), i * 16 + 1, F.lit(1))
                ).alias("byte_val"),
            ),
        ),
        lambda s: s["frame_no"] * 16 < F.length("text"),
    )
    return (
        d.select("doc_id", F.explode(frames).alias("fr"))
        .select(
            "doc_id",
            F.col("fr.frame_no").cast("int").alias("frame_no"),
            F.col("fr.byte_val").cast("int").alias("byte_val"),
        )
        .orderBy("doc_id", "frame_no")
    )


MULTIMODAL_FRAME_SAMPLE_ORACLE = """
SELECT doc_id,
       CAST(i AS INTEGER) AS frame_no,
       CAST(ascii(substring(text, i * 16 + 1, 1)) AS INTEGER) AS byte_val
FROM documents, generate_series(0, 7) AS g(i)
WHERE i * 16 < length(text)
ORDER BY doc_id, frame_no
"""


def _ascii_body(n: int):
    """First-n-characters body on a guaranteed single-byte plane:
    every character outside printable ASCII (space..tilde) becomes
    'x' BEFORE slicing/padding, so the UTF-8-encoded byte body and
    the oracles' per-character ascii() arithmetic agree by
    construction rather than by an ASCII-only fixture — a multi-byte
    character would otherwise lengthen the byte body past n and
    break the image/frame-size contract (round-7 ADVICE).  NULL text
    builds the all-pad body rather than a NULL payload."""
    clean = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), "[^ -~]", "x"
    )
    return F.rpad(F.substring(clean, 1, n), n, "x")


def _ascii_px_sql(n: int) -> str:
    """DuckDB mirror of :func:`_ascii_body` (DuckDB's regexp_replace
    needs the explicit 'g' flag for a global substitution)."""
    return (
        f"rpad(substring(regexp_replace(coalesce(text, ''), "
        f"'[^ -~]', 'x', 'g'), 1, {n}), {n}, 'x')"
    )


def fuse_batches(*fns):
    """Compose mapInPandas batch kernels into ONE Python stage
    (guide §4.4): fuse_batches(enc, dec) pipes each task's Arrow
    batch iterator through enc then dec INSIDE the same Python
    worker call — per-row dataflow identical to
    `.mapInPandas(enc).mapInPandas(dec)`, but with one Python stage
    launch and half the JVM<->Python Arrow round-trips.  The
    build->decode codec queries below fuse this way; the standalone
    build_*_payloads builders keep the two-stage form for callers
    that consume the encoded payload column itself."""

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for fn in fns:
            batches = fn(batches)
        return batches

    return fused


def build_ppm_payloads(d: DataFrame) -> DataFrame:
    """Assemble a REAL P6 PPM container per document, entirely
    JVM-side: ASCII header + 48 raw sample bytes taken from the
    first 48 text bytes (rpad'ed with 'x' so short docs still form
    a complete 4x4 RGB image).  The payload is a valid image any
    netpbm tool could open — not a synthetic blob."""
    body = _ascii_body(_PPM_BODY_LEN)
    header = F.lit(f"P6\n{PPM_W} {PPM_H}\n255\n")
    return d.select(
        "doc_id", F.encode(F.concat(header, body), "UTF-8").alias("img")
    )


DECODE_SCHEMA = (
    "doc_id bigint, width int, height int, "
    "r_sum bigint, g_sum bigint, b_sum bigint"
)


def _decode_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, img in zip(pdf["doc_id"], pdf["img"]):
            w, h, _maxval, samples = decode_ppm(bytes(img))
            # channel sums over the decoded pixel array — the
            # canonical "decode -> per-channel stats" kernel shape
            arr = np.frombuffer(samples, dtype=np.uint8).reshape(h, w, 3)
            sums = arr.sum(axis=(0, 1), dtype=np.int64)
            out.append(
                (doc_id, w, h, int(sums[0]), int(sums[1]), int(sums[2]))
            )
        yield pd.DataFrame(
            out,
            columns=["doc_id", "width", "height", "r_sum", "g_sum", "b_sum"],
        )


def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END real decode: documents -> P6 PPM binary payloads
    (built JVM-side) -> pure-Python PPM parse inside an Arrow
    mapInPandas kernel -> per-channel pixel sums.  This is the
    actual decode/feature-extract pipeline shape for image columns
    at 100 TB — swap decode_ppm for a JPEG decoder and nothing else
    changes (schema, batching, partitioning are format-agnostic)."""
    d = load_table(spark, sf_dir, "documents")
    stats = build_ppm_payloads(d).mapInPandas(
        _decode_stats_batches, schema=DECODE_SCHEMA
    )
    return stats.orderBy("doc_id")


def _encode_png_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "img": [
                    encode_png(PPM_W, PPM_H, bytes(b)) for b in pdf["body"]
                ],
            }
        )


def build_png_payloads(d: DataFrame) -> DataFrame:
    """Assemble a REAL PNG per document: the same 48 rpad'ed text
    bytes as the PPM pipeline become a 4x4 RGB image, deflate-
    compressed with per-row cycling filter types (encode_png).
    Unlike the PPM container, PNG bodies need zlib + CRC32, which
    Catalyst can't express — so the build runs in an Arrow
    mapInPandas kernel (exactly where a production encode/transcode
    stage sits); the binary column then flows Arrow-batched to the
    decode kernel, never row-by-row through Python between
    operators."""
    return spread_narrow(_png_src(d)).mapInPandas(
        _encode_png_batches, schema="doc_id bigint, img binary"
    )


def _png_src(d: DataFrame) -> DataFrame:
    """JVM-side source projection of the PNG pipeline (shared by the
    standalone builder and the fused build->decode query)."""
    body = _ascii_body(_PPM_BODY_LEN)
    return d.select("doc_id", F.encode(body, "UTF-8").alias("body"))


def _decode_png_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, img in zip(pdf["doc_id"], pdf["img"]):
            w, h, samples = decode_png(bytes(img))
            arr = np.frombuffer(samples, dtype=np.uint8).reshape(h, w, 3)
            sums = arr.sum(axis=(0, 1), dtype=np.int64)
            out.append(
                (doc_id, w, h, int(sums[0]), int(sums[1]), int(sums[2]))
            )
        yield pd.DataFrame(
            out,
            columns=["doc_id", "width", "height", "r_sum", "g_sum", "b_sum"],
        )


def multimodal_decode_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END compressed-codec decode: documents -> real PNG
    payloads (zlib deflate, CRC32 chunks, per-row cycling filters;
    build_png_payloads) -> from-scratch PNG parse + inflate +
    unfilter inside a second Arrow kernel (decode_png) -> per-
    channel pixel sums.  Because the pixel plane is the same
    rpad'ed 48 text bytes as the PPM pipeline, the decoded stats
    sit under the SAME value-hash oracle — the oracle certifies
    that compress -> filter -> decompress -> unfilter is lossless
    end-to-end, not merely that the kernel ran.  Encoder and
    decoder are independent implementations of the public spec
    (filters computed forward vs reversed), so a bug in either
    side breaks the oracle."""
    d = load_table(spark, sf_dir, "documents")
    # fused encode->decode: one Python stage instead of two (§4.4)
    stats = spread_narrow(_png_src(d)).mapInPandas(
        fuse_batches(_encode_png_batches, _decode_png_stats_batches),
        schema=DECODE_SCHEMA,
    )
    return stats.orderBy("doc_id")


# Oracle rebuilds the pixel plane arithmetic: sample byte j
# (1-based, 1..48) of the rpad'ed text belongs to channel (j-1)%3;
# the header contributes nothing to the sums.  The _ascii_body
# sanitization guarantees ascii(char) == payload byte for ANY input.
MULTIMODAL_DECODE_STATS_ORACLE = f"""
SELECT doc_id,
       CAST({PPM_W} AS INTEGER) AS width,
       CAST({PPM_H} AS INTEGER) AS height,
       CAST(sum(CASE WHEN (j - 1) % 3 = 0
                THEN ascii(substring(px, j, 1)) END) AS BIGINT) AS r_sum,
       CAST(sum(CASE WHEN (j - 1) % 3 = 1
                THEN ascii(substring(px, j, 1)) END) AS BIGINT) AS g_sum,
       CAST(sum(CASE WHEN (j - 1) % 3 = 2
                THEN ascii(substring(px, j, 1)) END) AS BIGINT) AS b_sum
FROM (
  SELECT doc_id, {_ascii_px_sql(_PPM_BODY_LEN)} AS px
  FROM documents
) p, generate_series(1, {_PPM_BODY_LEN}) AS g(j)
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------- WAV
# multimodal_decode_wav_stats audio geometry: 64 body bytes -> 32
# stereo PCM16 frames at 8 kHz; byte j (1-based) feeds channel
# (j-1) % 2 with the portable sample map (byte - 96) * 257
# (ASCII 32..126 -> samples in [-16448, 7710], well inside int16).
WAV_BODY_LEN = 64
WAV_CHANNELS = 2
WAV_RATE = 8000
WAV_FRAMES = WAV_BODY_LEN // WAV_CHANNELS
_WAV_SAMPLE_BIAS = 96
_WAV_SAMPLE_GAIN = 257


def encode_wav(samples: "np.ndarray", n_channels: int, rate: int) -> bytes:
    """Minimal RIFF/WAVE PCM16 writer (public container spec):
    'fmt ' chunk, a deliberately ODD-sized junk chunk (so decoders
    must honor RIFF's pad-to-even rule and skip unknown chunk ids),
    then interleaved little-endian 'data'.  Independent of
    :func:`decode_wav` — a bug in either side breaks the oracle."""
    data = samples.astype("<i2").tobytes()
    byte_rate = rate * n_channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, rate, byte_rate, n_channels * 2, 16
    )
    junk = b"odd"  # 3 bytes: exercises the odd-chunk pad path

    def chunk(cid: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return cid + struct.pack("<I", len(payload)) + payload + pad

    body = chunk(b"fmt ", fmt) + chunk(b"JUNK", junk) + chunk(b"data", data)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def decode_wav(buf: bytes) -> tuple[int, int, "np.ndarray"]:
    """From-scratch RIFF/WAVE PCM16 reader: validates the RIFF
    magic and WAVE form, walks chunks honoring the pad-to-even
    rule, skips unknown chunk ids, requires 'fmt ' before 'data',
    and enforces the PCM16 contract (format tag 1, 16 bits, data
    length divisible by the frame size).  Returns (n_channels,
    rate, interleaved int16 samples).  Malformed payloads raise
    ValueError — garbage stats must be impossible."""
    if buf[:4] != b"RIFF":
        raise ValueError(f"not a RIFF file: magic={buf[:4]!r}")
    if len(buf) < 12 or buf[8:12] != b"WAVE":
        raise ValueError("RIFF form is not WAVE")
    (riff_len,) = struct.unpack("<I", buf[4:8])
    if riff_len + 8 > len(buf):
        raise ValueError("truncated RIFF payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (clen,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        payload = buf[pos + 8 : pos + 8 + clen]
        if len(payload) != clen:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError(f"fmt chunk too short: {clen}")
            fmt = struct.unpack("<HHIIHH", payload[:16])
        elif cid == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt")
            data = payload
            break
        # unknown chunks (JUNK, LIST, ...) are skipped
        pos += 8 + clen + (clen % 2)  # RIFF pads odd chunks to even
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    tag, n_channels, rate, _brate, _align, bits = fmt
    if tag != 1 or bits != 16:
        raise ValueError(f"only PCM16 supported, got tag={tag} bits={bits}")
    if n_channels < 1 or len(data) % (2 * n_channels):
        raise ValueError(
            f"data length {len(data)} not a whole number of "
            f"{n_channels}-channel frames"
        )
    return n_channels, rate, np.frombuffer(data, dtype="<i2")


def _encode_wav_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        wavs = []
        for b in pdf["body"]:
            samples = (
                np.frombuffer(bytes(b), dtype=np.uint8).astype(np.int64)
                - _WAV_SAMPLE_BIAS
            ) * _WAV_SAMPLE_GAIN
            wavs.append(
                encode_wav(samples.astype(np.int16), WAV_CHANNELS, WAV_RATE)
            )
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "wav": wavs})


def build_wav_payloads(d: DataFrame) -> DataFrame:
    """Assemble a REAL stereo WAV per document: the first
    WAV_BODY_LEN rpad'ed text bytes become interleaved PCM16
    samples under the portable map (byte - 96) * 257, packed into a
    RIFF container with fmt/JUNK/data chunks (encode_wav).  The
    binary column flows Arrow-batched between kernels, never
    row-by-row through Python between operators."""
    return spread_narrow(_wav_src(d)).mapInPandas(
        _encode_wav_batches, schema="doc_id bigint, wav binary"
    )


def _wav_src(d: DataFrame) -> DataFrame:
    """JVM-side source projection of the WAV pipeline (shared by the
    standalone builder and the fused audio-codec queries)."""
    body = _ascii_body(WAV_BODY_LEN)
    return d.select("doc_id", F.encode(body, "UTF-8").alias("body"))


WAV_STATS_SCHEMA = (
    "doc_id bigint, n_frames int, rate int, "
    "l_sum bigint, r_sum bigint, peak bigint"
)


def _decode_wav_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, wav in zip(pdf["doc_id"], pdf["wav"]):
            n_ch, rate, samples = decode_wav(bytes(wav))
            frames = samples.reshape(-1, n_ch).astype(np.int64)
            out.append(
                (
                    doc_id,
                    frames.shape[0],
                    rate,
                    int(frames[:, 0].sum()),
                    int(frames[:, 1].sum()),
                    int(np.abs(frames).max()),
                )
            )
        yield pd.DataFrame(
            out,
            columns=["doc_id", "n_frames", "rate", "l_sum", "r_sum", "peak"],
        )


def multimodal_decode_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END audio-container decode: documents -> real stereo
    RIFF/WAVE PCM16 payloads (independent encode_wav, with a
    planted odd-length JUNK chunk) -> from-scratch RIFF walk +
    PCM16 unpack inside an Arrow kernel (decode_wav) -> per-channel
    sample sums and the absolute peak.  The sample plane is defined
    by portable integer arithmetic over the same rpad'ed text bytes
    the image pipelines use, so the oracle recomputes the expected
    stats from that independent definition — certifying that
    pack -> chunk-walk -> unpack is lossless end-to-end, including
    the odd-chunk padding and unknown-chunk skipping a real RIFF
    parser must get right.  Entropy-coded audio (FLAC/MP3) remains
    env-gated; it would replace decode_wav inside the identical
    kernel shape."""
    d = load_table(spark, sf_dir, "documents")
    # fused encode->decode: one Python stage instead of two (§4.4)
    stats = spread_narrow(_wav_src(d)).mapInPandas(
        fuse_batches(_encode_wav_batches, _decode_wav_stats_batches),
        schema=WAV_STATS_SCHEMA,
    )
    return stats.orderBy("doc_id")


# Oracle rebuilds the sample plane from first principles: byte j
# (1-based, 1..64) of the rpad'ed text is sample ((ascii-96)*257)
# on channel (j-1)%2; frames = body_len / channels.  The _ascii_body
# sanitization guarantees ascii(char) == payload byte for ANY input.
MULTIMODAL_DECODE_WAV_STATS_ORACLE = f"""
SELECT doc_id,
       CAST({WAV_FRAMES} AS INTEGER) AS n_frames,
       CAST({WAV_RATE} AS INTEGER) AS rate,
       CAST(sum(CASE WHEN (j - 1) % {WAV_CHANNELS} = 0
                THEN (ascii(substring(px, j, 1)) - {_WAV_SAMPLE_BIAS})
                     * {_WAV_SAMPLE_GAIN} END) AS BIGINT) AS l_sum,
       CAST(sum(CASE WHEN (j - 1) % {WAV_CHANNELS} = 1
                THEN (ascii(substring(px, j, 1)) - {_WAV_SAMPLE_BIAS})
                     * {_WAV_SAMPLE_GAIN} END) AS BIGINT) AS r_sum,
       CAST(max(abs((ascii(substring(px, j, 1)) - {_WAV_SAMPLE_BIAS})
                    * {_WAV_SAMPLE_GAIN})) AS BIGINT) AS peak
FROM (
  SELECT doc_id, {_ascii_px_sql(WAV_BODY_LEN)} AS px
  FROM documents
) p, generate_series(1, {WAV_BODY_LEN}) AS g(j)
GROUP BY doc_id
ORDER BY doc_id
"""


# --------------------------------------------------------------- Rice
# From-scratch LOSSLESS audio compression (the FLAC-family shape):
# order-1 linear prediction -> zigzag -> Rice/Golomb entropy coding
# with an escape for pathological residuals (Rice, "Some practical
# universal noiseless coding techniques", JPL 1979; the residual
# coder FLAC ships).  Pure stdlib bit twiddling — a REAL entropy
# codec, not a container: every bit of the stream is produced and
# consumed by this module.
_RICE_MAGIC = b"RAU1"
_RICE_ESCAPE_Q = 30  # unary quotients cap here; then 18 raw bits
_RICE_RAW_BITS = 18  # zigzagged int16 residuals fit in 17 bits


class _BitWriter:
    def __init__(self):
        self._out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            self._n -= 8
            self._out.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def getvalue(self) -> bytes:
        if self._n:
            return bytes(self._out) + bytes(
                [(self._acc << (8 - self._n)) & 0xFF]
            )
        return bytes(self._out)


class _BitReader:
    def __init__(self, buf: bytes):
        self._buf = buf
        self._pos = 0  # bit position

    def read(self, nbits: int) -> int:
        end = self._pos + nbits
        if end > len(self._buf) * 8:
            raise ValueError("rice stream truncated")
        v = 0
        pos = self._pos
        while nbits:
            byte = self._buf[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(avail, nbits)
            v = (v << take) | (
                (byte >> (avail - take)) & ((1 << take) - 1)
            )
            pos += take
            nbits -= take
        self._pos = pos
        return v

    def read_unary(self) -> int:
        q = 0
        while self.read(1):
            q += 1
            if q > _RICE_ESCAPE_Q:
                raise ValueError("rice unary run exceeds escape cap")
        return q


def rice_encode_audio(
    samples: "np.ndarray", n_channels: int, rate: int
) -> bytes:
    """Compress int16 samples losslessly: order-1 residuals, zigzag
    to non-negative, Rice parameter k fit to the mean residual
    magnitude, quotients above the escape cap stored raw."""
    s = samples.astype(np.int64)
    resid = np.diff(s, prepend=0)
    zz = (resid << 1) ^ (resid >> 63)  # zigzag
    mean = int(zz.mean()) if zz.size else 0
    k = max(0, mean.bit_length() - 1)
    k = min(k, 15)
    w = _BitWriter()
    for v in zz.tolist():
        q = v >> k
        if q >= _RICE_ESCAPE_Q:
            w.write((1 << _RICE_ESCAPE_Q) - 1, _RICE_ESCAPE_Q)
            w.write(0, 1)
            w.write(v, _RICE_RAW_BITS)
        else:
            w.write((1 << q) - 1, q)  # q ones
            w.write(0, 1)  # terminator
            w.write(v, k)
    body = w.getvalue()
    header = _RICE_MAGIC + struct.pack(
        "<IHIB", len(s), n_channels, rate, k
    )
    return header + body


def rice_decode_audio(buf: bytes) -> tuple[int, int, "np.ndarray"]:
    """Decompress a rice_encode_audio stream: header validation,
    unary+remainder (or escaped raw) residuals, un-zigzag, prefix
    sum.  Malformed streams raise ValueError."""
    if buf[:4] != _RICE_MAGIC:
        raise ValueError(f"not a rice-audio stream: magic={buf[:4]!r}")
    if len(buf) < 4 + 11:
        raise ValueError("truncated rice header")
    n, n_channels, rate, k = struct.unpack("<IHIB", buf[4:15])
    if k > 15:
        raise ValueError(f"rice parameter out of range: {k}")
    r = _BitReader(buf[15:])
    zz = np.empty(n, dtype=np.int64)
    for i in range(n):
        q = r.read_unary()
        if q == _RICE_ESCAPE_Q:
            zz[i] = r.read(_RICE_RAW_BITS)
        else:
            zz[i] = (q << k) | r.read(k)
    resid = (zz >> 1) ^ -(zz & 1)  # un-zigzag
    samples = np.cumsum(resid)
    if samples.size and (
        samples.max(initial=0) > 32767 or samples.min(initial=0) < -32768
    ):
        raise ValueError("decoded samples exceed int16 range")
    return n_channels, rate, samples.astype(np.int16)


def _rice_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, wav in zip(pdf["doc_id"], pdf["wav"]):
            n_ch, rate, samples = decode_wav(bytes(wav))
            packed = rice_encode_audio(samples, n_ch, rate)
            got_ch, got_rate, got = rice_decode_audio(packed)
            # in-kernel contract check: the entropy loop is lossless
            # (the oracle certifies it again from first principles)
            if got_ch != n_ch or got_rate != rate or not (got == samples).all():
                raise ValueError(
                    f"rice round-trip mismatch for doc {doc_id}"
                )
            frames = got.reshape(-1, got_ch).astype(np.int64)
            out.append(
                (
                    doc_id,
                    frames.shape[0],
                    got_rate,
                    int(frames[:, 0].sum()),
                    int(frames[:, 1].sum()),
                    int(np.abs(frames).max()),
                )
            )
        yield pd.DataFrame(
            out,
            columns=["doc_id", "n_frames", "rate", "l_sum", "r_sum", "peak"],
        )


def multimodal_decode_rice_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END entropy-coded audio: real WAV payloads -> RIFF
    decode -> from-scratch Rice compression (order-1 prediction +
    zigzag + Golomb-Rice bitstream with escape codes) -> from-
    scratch bit-level decode -> per-channel stats.  The stats equal
    the plain WAV pipeline's by construction, so the SAME value-hash
    oracle certifies the whole predict -> entropy-code -> decode ->
    reconstruct loop lossless (the PNG/PPM discipline applied to
    audio) — encoder and decoder share no state beyond the public
    stream format, and every bit of that stream is produced by this
    module, no codec library involved."""
    d = load_table(spark, sf_dir, "documents")
    stats = spread_narrow(_wav_src(d)).mapInPandas(
        fuse_batches(_encode_wav_batches, _rice_stats_batches),
        schema=WAV_STATS_SCHEMA,
    )
    return stats.orderBy("doc_id")


# ---------------------------------------------------------------- FLAC
# Eighth codec: the FLAC container + fixed-prediction + Rice-
# partition subset in operators/flac.py (from-scratch; retires the
# 'FLAC remains env-gated' concession).  Pipeline mirrors the Rice
# one: real WAV payloads -> RIFF decode -> FLAC encode -> FLAC
# decode (CRC-8/CRC-16/MD5 verified) -> per-channel stats under
# the SAME sample-plane value-hash oracle.


def _flac_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    from .flac import decode_flac, encode_flac

    for pdf in batches:
        out = []
        for doc_id, wav in zip(pdf["doc_id"], pdf["wav"]):
            n_ch, rate, samples = decode_wav(bytes(wav))
            packed = encode_flac(samples.astype(np.int64), n_ch, rate)
            got_ch, got_rate, got = decode_flac(packed)
            if got_ch != n_ch or got_rate != rate or not (got == samples).all():
                raise ValueError(
                    f"flac round-trip mismatch for doc {doc_id}"
                )
            frames = got.reshape(-1, got_ch).astype(np.int64)
            out.append(
                (
                    doc_id,
                    frames.shape[0],
                    got_rate,
                    int(frames[:, 0].sum()),
                    int(frames[:, 1].sum()),
                    int(np.abs(frames).max()),
                )
            )
        yield pd.DataFrame(
            out,
            columns=["doc_id", "n_frames", "rate", "l_sum", "r_sum", "peak"],
        )


def multimodal_decode_flac_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END FLAC: real WAV payloads -> RIFF decode -> from-
    scratch FLAC encode (STREAMINFO + MD5, framed CRC-8/CRC-16,
    per-subframe CONSTANT/FIXED/VERBATIM choice, Rice partitions)
    -> from-scratch FLAC decode -> per-channel stats.  Equal to the
    plain WAV pipeline by construction, so the same value-hash
    oracle certifies the whole container+prediction+entropy loop
    lossless."""
    d = load_table(spark, sf_dir, "documents")
    stats = spread_narrow(_wav_src(d)).mapInPandas(
        fuse_batches(_encode_wav_batches, _flac_stats_batches),
        schema=WAV_STATS_SCHEMA,
    )
    return stats.orderBy("doc_id")


# -------------------------------------------------------------- μ-law
# G.711 μ-law companding constants (public ITU-T spec / the classic
# linear2ulaw implementation): clamp, bias, 8 exponent segments.
_ULAW_CLIP = 32635
_ULAW_BIAS = 132


def mulaw_encode(x: "np.ndarray") -> "np.ndarray":
    """G.711 μ-law compress: int16 linear samples -> uint8 codes.
    Pure integer arithmetic (the exponent ladder is 7 vectorized
    comparisons, not a float log), so the DuckDB oracle reproduces
    every code exactly."""
    x = x.astype(np.int64)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), _ULAW_CLIP) + _ULAW_BIAS
    v = mag >> 7
    exponent = (
        (v >= 2).astype(np.int64)
        + (v >= 4)
        + (v >= 8)
        + (v >= 16)
        + (v >= 32)
        + (v >= 64)
        + (v >= 128)
    )
    mantissa = (mag >> (exponent + 3)) & 0x0F
    return (255 - (sign + (exponent << 4) + mantissa)).astype(np.uint8)


def mulaw_decode(code: "np.ndarray") -> "np.ndarray":
    """G.711 μ-law expand (the classic ulaw2linear): uint8 codes ->
    linear samples, reconstructing each code's quantization-cell
    base point (((mantissa<<3) + BIAS) << exponent) - BIAS, so
    encode(decode(code)) == code for every code — the lattice
    idempotence the tests pin."""
    y = 255 - code.astype(np.int64)
    sign = y & 0x80
    exponent = (y >> 4) & 0x07
    mantissa = y & 0x0F
    mag = (((mantissa << 3) + _ULAW_BIAS) << exponent) - _ULAW_BIAS
    return np.where(sign != 0, -mag, mag).astype(np.int64)


MULAW_STATS_SCHEMA = (
    "doc_id bigint, n_samples int, code_sum bigint, "
    "min_code int, max_code int, n_codes bigint"
)


def _mulaw_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, wav in zip(pdf["doc_id"], pdf["wav"]):
            _n_ch, _rate, samples = decode_wav(bytes(wav))
            codes = mulaw_encode(samples)
            out.append(
                (
                    doc_id,
                    len(codes),
                    int(codes.astype(np.int64).sum()),
                    int(codes.min()),
                    int(codes.max()),
                    int(np.unique(codes).size),
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id", "n_samples", "code_sum",
                "min_code", "max_code", "n_codes",
            ],
        )


def multimodal_audio_mulaw_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio FEATURE-EXTRACT over decoded samples: real WAV payloads
    -> RIFF decode -> G.711 μ-law companding (the telephony
    compander every DSP toolchain ships) -> per-doc code statistics.
    The compander is pure integer arithmetic, so the whole
    decode -> transform -> aggregate pipeline sits under the
    value-hash oracle, which recomputes the expected codes from the
    independent generative sample definition via the same clamp /
    bias / exponent-segment ladder in SQL.  This is the
    'feature-extract over an audio column' kernel shape of the
    target pipeline — swap the compander for an MFCC or codec
    frontend and the plumbing is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    stats = spread_narrow(_wav_src(d)).mapInPandas(
        fuse_batches(_encode_wav_batches, _mulaw_stats_batches),
        schema=MULAW_STATS_SCHEMA,
    )
    return stats.orderBy("doc_id")


def _mulaw_oracle_sql() -> str:
    """DuckDB mirror: regenerate the sample plane, compand with the
    identical integer ladder, aggregate the same stats."""
    e_ladder = " + ".join(
        f"(CASE WHEN v >= {1 << k} THEN 1 ELSE 0 END)" for k in range(1, 8)
    )
    return f"""
WITH px AS (
  SELECT doc_id, {_ascii_px_sql(WAV_BODY_LEN)} AS px
  FROM documents
),
samples AS (
  SELECT doc_id,
         (ascii(substring(px, j, 1)) - {_WAV_SAMPLE_BIAS})
             * {_WAV_SAMPLE_GAIN} AS s
  FROM px, generate_series(1, {WAV_BODY_LEN}) AS g(j)
),
m1 AS (
  SELECT doc_id,
         CASE WHEN s < 0 THEN 128 ELSE 0 END AS sgn,
         least(abs(s), {_ULAW_CLIP}) + {_ULAW_BIAS} AS mag
  FROM samples
),
m2 AS (
  SELECT doc_id, sgn, mag, ({e_ladder}) AS e
  FROM (SELECT doc_id, sgn, mag, mag // 128 AS v FROM m1) q
),
codes AS (
  SELECT doc_id,
         255 - (sgn + 16 * e
                + (mag // (8 * CAST(power(2, e) AS BIGINT))) % 16) AS code
  FROM m2
)
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_samples,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(min(code) AS INTEGER) AS min_code,
       CAST(max(code) AS INTEGER) AS max_code,
       count(DISTINCT code) AS n_codes
FROM codes
GROUP BY doc_id
ORDER BY doc_id
"""


MULTIMODAL_AUDIO_MULAW_STATS_ORACLE = _mulaw_oracle_sql()


# ---------------------------------------------------------------- GIF
# Seventh from-scratch codec: GIF87a with LZW-compressed index
# stream (the public CompuServe spec).  Geometry: the 48 rpad'ed
# body bytes become a 48x1 image of GRAYSCALE palette indices
# (global color table entry i = (i,i,i)), so the decoded index
# stream IS the body byte stream and the channel arithmetic
# ((j-1) % 3) reuses the PPM/PNG oracle shape with GIF dimensions.
# Encoder and decoder are independent spec implementations
# (forward LZW dictionary build vs code-table reconstruction), so
# a bug in either side breaks the value-hash oracle.

GIF_W = _PPM_BODY_LEN  # 48x1 pixels, one palette index per body byte
GIF_H = 1
_GIF_MIN_CODE = 8  # 256-entry palette -> 8-bit symbols


def _lzw_compress(indices: bytes) -> bytes:
    """GIF-variant LZW over 8-bit symbols: clear/end codes,
    LSB-first packing, width growth to 12 bits, dictionary reset
    when full.  Returns the packed code bytes (no sub-block
    framing)."""
    clear, end = 256, 257
    codes: list[tuple[int, int]] = [(clear, 9)]
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt, width = 258, 9
    run = b""
    for b in indices:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        codes.append((table[run], width))
        table[cand] = nxt
        nxt += 1
        if nxt - 1 == (1 << width) and width < 12:
            width += 1
        elif nxt > 4095:
            codes.append((clear, width))
            table = {bytes([i]): i for i in range(256)}
            nxt, width = 258, 9
        run = bytes([b])
    if run:
        codes.append((table[run], width))
    codes.append((end, width))

    acc = bits = 0
    packed = bytearray()
    for code, cw in codes:
        acc |= code << bits
        bits += cw
        while bits >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
    if bits:
        packed.append(acc & 0xFF)
    return bytes(packed)


def _image_block(indices: bytes, w: int, h: int) -> bytes:
    """One GIF image descriptor + LZW sub-blocked data for a frame."""
    out = bytearray(b"\x2c" + b"\x00" * 4)  # descriptor at (0,0)
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += b"\x00"  # no local color table, not interlaced
    out += bytes([_GIF_MIN_CODE])
    packed = _lzw_compress(indices)
    for s in range(0, len(packed), 255):
        block = packed[s : s + 255]
        out += bytes([len(block)]) + block
    out += b"\x00"  # block terminator
    return bytes(out)


def _gif_header(w: int, h: int, version: bytes = b"GIF87a") -> bytes:
    out = bytearray(version)
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0xF7, 0, 0])  # GCT present, 8 bpp, 256 entries
    for i in range(256):
        out += bytes([i, i, i])  # grayscale palette
    return bytes(out)


def encode_gif(indices: bytes) -> bytes:
    """GIF87a encoder: header + logical screen descriptor + 256-gray
    global color table + one image descriptor + LZW-compressed index
    stream."""
    w, h = len(indices), 1
    return _gif_header(w, h) + _image_block(indices, w, h) + b"\x3b"


def encode_gif_anim(frames: list, w: int) -> bytes:
    """GIF89a ANIMATION encoder: NETSCAPE looping application
    extension, then per frame a graphic control extension + image
    block — the multi-frame container the frame-sampling pipeline
    parses.  Each frame is `w` gray pixels (one row)."""
    out = bytearray(_gif_header(w, 1, b"GIF89a"))
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for fr in frames:
        assert len(fr) == w
        # GCE: 4-byte block, delay 10cs, no transparency
        out += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"
        out += _image_block(fr, w, 1)
    out += b"\x3b"
    return bytes(out)


def _lzw_decode(data: bytes, min_code: int) -> bytes:
    """GIF-variant LZW decoder core (LSB-first, clear-code table
    resets, width growth at table-full boundaries, KwKwK
    first-entry case)."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    acc = bits = bitpos = 0
    width = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(1 << min_code)] + [
        b"",
        b"",
    ]
    prev: bytes | None = None
    out = bytearray()

    def read_code() -> int:
        nonlocal acc, bits, bitpos
        while bits < width:
            acc |= data[bitpos] << bits
            bits += 8
            bitpos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        bits -= width
        return code

    while True:
        code = read_code()
        if code == clear:
            table = table[: (1 << min_code) + 2]
            width = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError("corrupt LZW stream")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out)


def decode_gif_frames(buf: bytes) -> tuple[int, int, list]:
    """From-scratch GIF parser: validates the header, reads the
    global color table, then walks the block stream — extension
    blocks (0x21: graphic control, application/NETSCAPE, comment)
    are structurally parsed and skipped, every image descriptor
    (0x2C) is LZW-decoded — until the trailer (0x3B).  Returns
    (screen_w, screen_h, [gray frame bytes]); the frame-sampling
    pipeline picks which frames to decode by index."""
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(buf) < 13:
        raise ValueError("truncated GIF: short header")
    w = int.from_bytes(buf[6:8], "little")
    h = int.from_bytes(buf[8:10], "little")
    flags = buf[10]
    pos = 13
    palette = None
    if flags & 0x80:
        size = 2 << (flags & 0x07)
        if pos + 3 * size > len(buf):
            raise ValueError("truncated GIF: short global color table")
        palette = buf[pos : pos + 3 * size]
        pos += 3 * size
    frames: list[bytes] = []
    end = len(buf)
    while True:
        if pos >= end:
            raise ValueError("truncated GIF: missing trailer")
        block = buf[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while True:
                if pos >= end:
                    raise ValueError("truncated GIF: unterminated extension")
                n = buf[pos]
                if n == 0:
                    pos += 1
                    break
                pos += 1 + n
            continue
        if block != 0x2C:
            raise ValueError(f"unsupported block 0x{block:02x}")
        if pos + 11 > end:
            raise ValueError("truncated GIF: short image descriptor")
        iw = int.from_bytes(buf[pos + 5 : pos + 7], "little")
        ih = int.from_bytes(buf[pos + 7 : pos + 9], "little")
        if buf[pos + 9] & 0xC0:
            raise ValueError("local palette / interlace unsupported")
        pos += 10
        min_code = buf[pos]
        pos += 1
        data = bytearray()
        while True:
            if pos >= end:
                raise ValueError("truncated GIF: unterminated image data")
            n = buf[pos]
            pos += 1
            if n == 0:
                break
            if pos + n > end:
                raise ValueError("truncated GIF: short data sub-block")
            data += buf[pos : pos + n]
            pos += n
        out = _lzw_decode(bytes(data), min_code)
        if len(out) != iw * ih:
            raise ValueError(
                f"decoded {len(out)} pixels, expected {iw * ih}"
            )
        frames.append(
            bytes(palette[3 * i] for i in out) if palette else bytes(out)
        )
    return w, h, frames


def decode_gif(buf: bytes) -> tuple[int, int, bytes]:
    """Single-image GIF decode (the still-image pipeline's entry):
    parse, require exactly one frame, return (w, h, gray bytes)."""
    w, h, frames = decode_gif_frames(buf)
    if len(frames) != 1:
        raise ValueError(f"expected 1 frame, found {len(frames)}")
    return w, h, frames[0]


def _encode_gif_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "img": [encode_gif(bytes(b)) for b in pdf["body"]],
            }
        )


def build_gif_payloads(d: DataFrame) -> DataFrame:
    """Assemble a REAL GIF87a per document (the same 48 rpad'ed
    body bytes as the PPM/PNG pipelines, as a 48x1 grayscale-
    palette image); LZW needs a dictionary, which Catalyst can't
    express, so the build runs in an Arrow mapInPandas kernel."""
    return spread_narrow(_gif_src(d)).mapInPandas(
        _encode_gif_batches, schema="doc_id bigint, img binary"
    )


def _gif_src(d: DataFrame) -> DataFrame:
    body = _ascii_body(_PPM_BODY_LEN)
    return d.select("doc_id", F.encode(body, "UTF-8").alias("body"))


def _decode_gif_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, img in zip(pdf["doc_id"], pdf["img"]):
            w, h, gray = decode_gif(bytes(img))
            arr = np.frombuffer(gray, dtype=np.uint8).astype(np.int64)
            out.append(
                (
                    doc_id,
                    w,
                    h,
                    int(arr[0::3].sum()),
                    int(arr[1::3].sum()),
                    int(arr[2::3].sum()),
                )
            )
        yield pd.DataFrame(
            out,
            columns=["doc_id", "width", "height", "r_sum", "g_sum", "b_sum"],
        )


def multimodal_decode_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dictionary-codec decode: documents -> real GIF87a
    payloads (LZW, sub-blocks, grayscale palette) -> from-scratch
    GIF parse + LZW decode inside a second Arrow kernel -> channel
    sums over the recovered byte plane.  Same oracle arithmetic as
    PPM/PNG (the codecs must all round-trip the identical bytes),
    with GIF's own 48x1 dimensions."""
    d = load_table(spark, sf_dir, "documents")
    stats = spread_narrow(_gif_src(d)).mapInPandas(
        fuse_batches(_encode_gif_batches, _decode_gif_stats_batches),
        schema=DECODE_SCHEMA,
    )
    return stats.orderBy("doc_id")


MULTIMODAL_DECODE_GIF_STATS_ORACLE = f"""
SELECT doc_id,
       CAST({GIF_W} AS INTEGER) AS width,
       CAST({GIF_H} AS INTEGER) AS height,
       CAST(sum(CASE WHEN (j - 1) % 3 = 0
                THEN ascii(substring(px, j, 1)) END) AS BIGINT) AS r_sum,
       CAST(sum(CASE WHEN (j - 1) % 3 = 1
                THEN ascii(substring(px, j, 1)) END) AS BIGINT) AS g_sum,
       CAST(sum(CASE WHEN (j - 1) % 3 = 2
                THEN ascii(substring(px, j, 1)) END) AS BIGINT) AS b_sum
FROM (
  SELECT doc_id, {_ascii_px_sql(_PPM_BODY_LEN)} AS px
  FROM documents
) p, generate_series(1, {_PPM_BODY_LEN}) AS g(j)
GROUP BY doc_id
ORDER BY doc_id
"""


# ------------------------------------------------- animated GIF (video shape)
# Frame sampling over a real MULTI-FRAME container: each document
# becomes a 4-frame GIF89a animation (NETSCAPE loop extension +
# per-frame graphic control extensions), frame f carrying the
# 48-byte window of the sanitized text at offset f*24 (50% overlap
# between consecutive frames — temporally-correlated frames, like
# video).  The decode kernel parses the container and LZW-decodes
# ONLY the sampled frames (every 2nd), the exact
# decode-what-you-keep shape of a video frame-sampling stage.
# True codec video (H.264/VP9) still needs native libraries; this
# replaces the former fully-env-gated video slot with a real
# container walk + real entropy decode.

VID_FRAMES = 4
VID_STEP = 24          # frame-to-frame window advance (50% overlap)
VID_SAMPLE_EVERY = 2   # keep frames 0, 2
_VID_BODY_LEN = VID_STEP * (VID_FRAMES - 1) + _PPM_BODY_LEN  # 120


def _encode_gif_anim_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        vids = []
        for b in pdf["body"]:
            body = bytes(b)
            frames = [
                body[f * VID_STEP : f * VID_STEP + _PPM_BODY_LEN]
                for f in range(VID_FRAMES)
            ]
            vids.append(encode_gif_anim(frames, _PPM_BODY_LEN))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "vid": vids})


def _gif_anim_src(d: DataFrame) -> DataFrame:
    body = _ascii_body(_VID_BODY_LEN)
    return d.select("doc_id", F.encode(body, "UTF-8").alias("body"))


VID_STATS_SCHEMA = (
    "doc_id bigint, frame_idx int, width int, height int, "
    "r_sum bigint, g_sum bigint, b_sum bigint"
)


def _sample_gif_frames_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, vid in zip(pdf["doc_id"], pdf["vid"]):
            w, h, frames = decode_gif_frames(bytes(vid))
            for f in range(0, len(frames), VID_SAMPLE_EVERY):
                arr = np.frombuffer(frames[f], dtype=np.uint8).astype(
                    np.int64
                )
                out.append(
                    (
                        doc_id,
                        f,
                        w,
                        h,
                        int(arr[0::3].sum()),
                        int(arr[1::3].sum()),
                        int(arr[2::3].sum()),
                    )
                )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id", "frame_idx", "width", "height",
                "r_sum", "g_sum", "b_sum",
            ],
        )


def multimodal_video_frame_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END multi-frame frame sampling: documents -> 4-frame
    GIF89a animations (Arrow build kernel) -> container walk +
    per-sampled-frame LZW decode (Arrow decode kernel) -> channel
    sums per kept frame.  The oracle reconstructs every sampled
    frame's byte plane from the windowed substring arithmetic, so
    the value hash certifies container framing AND entropy decode
    AND the sampling pattern."""
    d = load_table(spark, sf_dir, "documents")
    stats = spread_narrow(_gif_anim_src(d)).mapInPandas(
        fuse_batches(_encode_gif_anim_batches, _sample_gif_frames_batches),
        schema=VID_STATS_SCHEMA,
    )
    return stats.orderBy("doc_id", "frame_idx")


_vid_frames_sql = ", ".join(
    str(f) for f in range(0, VID_FRAMES, VID_SAMPLE_EVERY)
)

MULTIMODAL_VIDEO_FRAME_STATS_ORACLE = f"""
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST({_PPM_BODY_LEN} AS INTEGER) AS width,
       CAST(1 AS INTEGER) AS height,
       CAST(sum(CASE WHEN (j - 1) % 3 = 0
                THEN ascii(substring(px, f * {VID_STEP} + j, 1)) END)
            AS BIGINT) AS r_sum,
       CAST(sum(CASE WHEN (j - 1) % 3 = 1
                THEN ascii(substring(px, f * {VID_STEP} + j, 1)) END)
            AS BIGINT) AS g_sum,
       CAST(sum(CASE WHEN (j - 1) % 3 = 2
                THEN ascii(substring(px, f * {VID_STEP} + j, 1)) END)
            AS BIGINT) AS b_sum
FROM (
  SELECT doc_id, {_ascii_px_sql(_VID_BODY_LEN)} AS px
  FROM documents
) p,
(SELECT unnest([{_vid_frames_sql}]) AS f) fr,
generate_series(1, {_PPM_BODY_LEN}) AS g(j)
GROUP BY doc_id, f
ORDER BY doc_id, frame_idx
"""


register("multimodal_features", multimodal_features, MULTIMODAL_FEATURES_ORACLE)
register(
    "multimodal_video_frame_stats",
    multimodal_video_frame_stats,
    MULTIMODAL_VIDEO_FRAME_STATS_ORACLE,
)
register(
    "multimodal_decode_gif_stats",
    multimodal_decode_gif_stats,
    MULTIMODAL_DECODE_GIF_STATS_ORACLE,
)
register(
    "multimodal_decode_wav_stats",
    multimodal_decode_wav_stats,
    MULTIMODAL_DECODE_WAV_STATS_ORACLE,
)
register(
    "multimodal_audio_mulaw_stats",
    multimodal_audio_mulaw_stats,
    MULTIMODAL_AUDIO_MULAW_STATS_ORACLE,
)
register(
    "multimodal_decode_flac_stats",
    multimodal_decode_flac_stats,
    # same sample-plane arithmetic as WAV/Rice: the FLAC pipeline
    # must reconstruct the identical samples
    MULTIMODAL_DECODE_WAV_STATS_ORACLE,
)
register(
    "multimodal_decode_rice_stats",
    multimodal_decode_rice_stats,
    # same sample-plane arithmetic: the Rice pipeline must
    # reconstruct the identical samples the WAV pipeline reads raw
    MULTIMODAL_DECODE_WAV_STATS_ORACLE,
)
register(
    "multimodal_decode_stats",
    multimodal_decode_stats,
    MULTIMODAL_DECODE_STATS_ORACLE,
)
register(
    "multimodal_frame_sample",
    multimodal_frame_sample,
    MULTIMODAL_FRAME_SAMPLE_ORACLE,
)
register(
    "multimodal_decode_png_stats",
    multimodal_decode_png_stats,
    # same pixel-plane arithmetic: the PNG pipeline must round-trip
    # the identical 48 body bytes the PPM pipeline carries raw
    MULTIMODAL_DECODE_STATS_ORACLE,
)
