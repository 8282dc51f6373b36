"""MPEG-1 Audio Layer III (MP3) frame-header / side-info parsing —
the container half of the codec, from scratch (round-8 verdict #6).

Scope (deliberate, dated 2026-08-15): the MP3 CONTAINER layer —
sync-word validation, header field decode, the frame-length
arithmetic that makes a VBR stream walkable, and the side-info
main_data_begin read — is implemented and certified end-to-end.
Full Layer III SYNTHESIS (Huffman-coded spectral data, requantize,
stereo processing, alias reduction, IMDCT, polyphase filterbank) is
~10x the FLAC subset's complexity and stays out of scope; SCALE.md
records exactly what it needs.  This retires the blanket "MP3
env-gated" line: what a 100 TB ingest pipeline needs from MP3 —
validate payloads, count frames, measure duration/bitrate/VBR
profile WITHOUT decoding audio — is precisely the container walk,
and that is real here.

Format facts used (public ISO/IEC 11172-3 spec, all field layouts
as in every independent description of the header):

  32-bit header: 11-bit sync (all ones), 2-bit version (11 =
  MPEG-1), 2-bit layer (01 = Layer III), 1-bit protection (1 = no
  CRC), 4-bit bitrate index, 2-bit sample-rate index, 1-bit
  padding, 1-bit private, 2-bit channel mode, 2-bit mode
  extension, copyright/original bits, 2-bit emphasis.

  frame_bytes = floor(144000 * bitrate_kbps / sample_rate)
                + padding            (Layer III, MPEG-1)
  samples/frame = 1152.

  Side info (MPEG-1): 32 bytes for 2-channel modes, 17 for mono;
  its first 9 bits are main_data_begin — the bit-reservoir back
  pointer every splitter/repair tool must read.

Reference parity: the reference engine has no audio path; this
extends the SURVEY §2.2 multimodal-column category
(maprdeuce.cpp's byte-stream scan contract, lines 134-179, applied
to binary payloads) with the ninth container format.

Scale shape (100 TB): identical to the other codec families — the
payload column flows Arrow-batched through TWO mapInPandas kernels
(assemble, parse) with the guarded `spread_narrow` repartition; stats
are integer-exact so the DuckDB oracle re-derives them from the
payload DEFINITION (per-byte arithmetic over the same rpad'ed
text), certifying assemble -> sync-walk -> field decode -> frame
advance lossless with no codec library anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing_arrow import spread_narrow
from ..io import load_table
from ..registry import register
from .multimodal import _ascii_body, _ascii_px_sql

# MPEG-1 Layer III bitrate table, index 1..14 (0 = free, 15 = bad)
MP3_BITRATES = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
MP3_RATES = (44100, 48000, 32000)  # sample-rate index 0..2 (3 = reserved)
MP3_SAMPLES_PER_FRAME = 1152
MP3_SIDE_STEREO = 32  # MPEG-1, channel mode != mono
MP3_SIDE_MONO = 17

# fixture geometry: byte j (1-based, 1..MP3_FRAMES) of the rpad'ed
# ASCII body parameterizes frame j — a VBR stream whose per-frame
# bitrate, padding, and main_data_begin are all doc-derived and
# therefore oracle-recomputable:
#   a   = ascii byte (32..126)
#   idx = a % 14 + 1                 (every legal bitrate index)
#   pad = (a // 2) % 2               (decorrelated from idx)
#   mdb = (a * 7) % 512              (9-bit main_data_begin)
MP3_FRAMES = 24
MP3_BODY_LEN = MP3_FRAMES
MP3_SR_IDX = 0  # 44100 Hz
MP3_RATE = MP3_RATES[MP3_SR_IDX]


def _frame_params(a: int) -> tuple[int, int, int]:
    """(bitrate_kbps, padding, main_data_begin) of the frame a body
    byte `a` parameterizes — the single definition the encoder, the
    in-kernel checks, and the DuckDB oracle all derive from."""
    return MP3_BITRATES[a % 14], (a // 2) % 2, (a * 7) % 512


def frame_length(bitrate_kbps: int, padding: int, rate: int = MP3_RATE) -> int:
    """Layer III / MPEG-1 frame size in bytes (header + side info +
    main data), the arithmetic that makes a VBR stream walkable."""
    return 144_000 * bitrate_kbps // rate + padding


def encode_mp3_stream(body: bytes) -> bytes:
    """Assemble a REAL MPEG-1 Layer III VBR stream: one frame per
    body byte, each with a spec-exact 4-byte header (sync, version,
    layer, bitrate/samplerate indexes, padding, joint-stereo mode),
    a 32-byte side-info block whose first 9 bits are the frame's
    main_data_begin, and deterministic filler main data out to the
    exact frame length.  Independent of :func:`parse_mp3_stream` —
    a bug in either side breaks the oracle."""
    out = bytearray()
    for a in body:
        kbps, pad, mdb = _frame_params(a)
        idx = a % 14 + 1
        hdr = bytes(
            (
                0xFF,
                0b11111011,  # sync tail + MPEG-1 + Layer III + no CRC
                (idx << 4) | (MP3_SR_IDX << 2) | (pad << 1),
                0x00,  # stereo, no mode ext, no copyright, emphasis none
            )
        )
        side = bytearray(MP3_SIDE_STEREO)
        side[0] = mdb >> 1  # main_data_begin<8:1>
        side[1] = (mdb & 1) << 7  # main_data_begin<0>, rest private/zero
        n = frame_length(kbps, pad)
        main = bytes(
            (a + 3 * k) % 256 for k in range(n - 4 - MP3_SIDE_STEREO)
        )
        out += hdr + bytes(side) + main
    return bytes(out)


def parse_mp3_stream(buf: bytes) -> list[dict]:
    """Walk an MPEG-1 Layer III stream frame by frame: validate the
    full 11-bit sync word at every boundary, decode the header
    fields, reject reserved bitrate/sample-rate codes, read
    main_data_begin from the side info, and advance by the computed
    frame length.  The walk must land EXACTLY on the stream end —
    a one-byte error in the length arithmetic desyncs the next
    header and raises.  Returns one dict per frame."""
    frames: list[dict] = []
    pos = 0
    end = len(buf)
    while pos < end:
        if pos + 4 > end:
            raise ValueError("truncated MP3: short header")
        b0, b1, b2, b3 = buf[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"lost sync at byte {pos}")
        version = (b1 >> 3) & 0x3
        layer = (b1 >> 1) & 0x3
        if version != 0b11 or layer != 0b01:
            raise ValueError("only MPEG-1 Layer III supported")
        protection = b1 & 1
        idx = b2 >> 4
        sr_idx = (b2 >> 2) & 0x3
        pad = (b2 >> 1) & 1
        if idx in (0, 15) or sr_idx == 3:
            raise ValueError(f"reserved bitrate/rate code at byte {pos}")
        kbps = MP3_BITRATES[idx - 1]
        rate = MP3_RATES[sr_idx]
        mode = (b3 >> 6) & 0x3
        side_len = MP3_SIDE_MONO if mode == 0b11 else MP3_SIDE_STEREO
        n = frame_length(kbps, pad, rate)
        if pos + n > end:
            raise ValueError(f"truncated MP3: frame at {pos} wants {n} bytes")
        if protection == 0:
            side_off = pos + 6  # 16-bit CRC between header and side info
        else:
            side_off = pos + 4
        if side_off + side_len > end:
            raise ValueError("truncated MP3: short side info")
        mdb = (buf[side_off] << 1) | (buf[side_off + 1] >> 7)
        frames.append(
            {
                "kbps": kbps,
                "rate": rate,
                "pad": pad,
                "bytes": n,
                "mdb": mdb,
            }
        )
        pos += n
    return frames


MP3_STATS_SCHEMA = (
    "doc_id bigint, n_frames int, n_padded int, bitrate_sum bigint, "
    "bytes_total bigint, mdb_sum bigint, duration_samples bigint"
)


def _mp3_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = []
        for doc_id, body in zip(pdf["doc_id"], pdf["body"]):
            stream = encode_mp3_stream(bytes(body))
            frames = parse_mp3_stream(stream)
            if len(frames) != MP3_FRAMES:
                raise ValueError(
                    f"doc {doc_id}: walked {len(frames)} frames, "
                    f"built {MP3_FRAMES}"
                )
            if sum(f["bytes"] for f in frames) != len(stream):
                raise ValueError(f"doc {doc_id}: frame walk desynced")
            out.append(
                (
                    doc_id,
                    len(frames),
                    sum(f["pad"] for f in frames),
                    sum(f["kbps"] for f in frames),
                    len(stream),
                    sum(f["mdb"] for f in frames),
                    len(frames) * MP3_SAMPLES_PER_FRAME,
                )
            )
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id",
                "n_frames",
                "n_padded",
                "bitrate_sum",
                "bytes_total",
                "mdb_sum",
                "duration_samples",
            ],
        )


def multimodal_mp3_frame_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END MP3 container walk: documents -> real MPEG-1
    Layer III VBR streams (spec-exact headers, side info, computed
    frame lengths; encode_mp3_stream) -> from-scratch sync-walk +
    field decode + main_data_begin read inside an Arrow kernel
    (parse_mp3_stream) -> per-doc frame stats.  Every stat is
    integer-exact and re-derivable from the payload definition, so
    the oracle certifies the whole assemble -> walk loop without a
    codec library.  Audio synthesis is out of scope by the dated
    note in SCALE.md."""
    d = load_table(spark, sf_dir, "documents")
    body = _ascii_body(MP3_BODY_LEN)
    src = d.select("doc_id", F.encode(body, "UTF-8").alias("body"))
    stats = spread_narrow(src).mapInPandas(
        _mp3_stats_batches, schema=MP3_STATS_SCHEMA
    )
    return stats.orderBy("doc_id")


def _bitrate_case_sql(var: str) -> str:
    """DuckDB bitrate lookup: list literals are 1-indexed, and the
    fixture maps byte a to table index a % 14 + 1."""
    lits = ", ".join(str(b) for b in MP3_BITRATES)
    return f"list_extract([{lits}], ({var}) % 14 + 1)"


MULTIMODAL_MP3_FRAME_STATS_ORACLE = f"""
SELECT doc_id,
       CAST({MP3_FRAMES} AS INTEGER) AS n_frames,
       CAST(sum((a // 2) % 2) AS INTEGER) AS n_padded,
       CAST(sum({_bitrate_case_sql('a')}) AS BIGINT) AS bitrate_sum,
       CAST(sum(144000 * {_bitrate_case_sql('a')} // {MP3_RATE}
                + (a // 2) % 2) AS BIGINT) AS bytes_total,
       CAST(sum((a * 7) % 512) AS BIGINT) AS mdb_sum,
       CAST({MP3_FRAMES * MP3_SAMPLES_PER_FRAME} AS BIGINT)
           AS duration_samples
FROM (
  SELECT doc_id, ascii(substring(px, j, 1)) AS a
  FROM (
    SELECT doc_id, {_ascii_px_sql(MP3_BODY_LEN)} AS px FROM documents
  ) p, generate_series(1, {MP3_BODY_LEN}) AS g(j)
)
GROUP BY doc_id
ORDER BY doc_id
"""

register(
    "multimodal_mp3_frame_stats",
    multimodal_mp3_frame_stats,
    MULTIMODAL_MP3_FRAME_STATS_ORACLE,
)
