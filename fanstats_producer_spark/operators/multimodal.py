"""Multimodal columns (SURVEY.md §2C T7): binary payloads with typed
metadata, carried through the relational pipeline and processed in
Arrow-batched mapInPandas workers.

Image/audio/video are opaque `binary` columns plus a metadata struct
(`with_payload`).  The fixture has no binary column, so payloads are
manufactured from `documents.text` (UTF-8 bytes), byte-identical on
both engines, which makes every codec path oracle-checkable.

The codecs are real and stdlib-only: PNG (`encode_png`/`decode_image`,
x58), WAV (`encode_wav`/`decode_wav`, x64), animated GIF89a
(`encode_gif`/`decode_gif`, x65), baseline JPEG
(`encode_jpeg`/`decode_jpeg`, x71) and AVI carrying uncompressed DIB or
Motion-JPEG frames (`encode_avi`/`decode_avi`, x70/x76).  Only
inter-frame video codecs (H.264/VP9) raise NotImplementedError: they
need ffmpeg, which is absent.

One combinator owns the engine-to-Python boundary.  A key states a row
function `rows(doc_id: int, payload: bytes)` that yields tuples in the
field order of a DDL schema string.  `payload_worker(rows, schema)`
turns it into the mapInPandas function: one
`pd.DataFrame(..., columns=<the schema's field names>)` per Arrow batch,
zero-row frames included, with the schema carried as `.schema`.
`document_features(spark, sf_dir, worker)` runs a worker over the
spread fixture documents' (doc_id, payload), and the s28/s29 stream
prefix runs the same worker objects.  Every row function is row-local,
so the codec work runs map-side on every executor with no shuffle.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fanstats_producer_spark.io import disk_checkpoint, load, spread
from fanstats_producer_spark.operators.dedup import (
    _CLOSURE_SQL,
    _KEEP_BEST_SQL,
    connected_components,
    keep_best,
)
from fanstats_producer_spark.registry import query


def payload_worker(rows, schema: str):
    """The mapInPandas function that yields, per (doc_id, payload)
    batch, one frame of every `rows(doc_id, payload)` tuple, with
    columns named by the fields of the DDL string `schema` (carried as
    `.schema`)."""
    names = [field.split()[0] for field in schema.split(",")]

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    row
                    for doc_id, blob in zip(pdf["doc_id"], pdf["payload"])
                    for row in rows(int(doc_id), bytes(blob))
                ],
                columns=names,
            )

    worker.schema = schema
    return worker


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach a binary payload + metadata struct (T7 column model)."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("utf8-blob").alias("format"),
            F.octet_length("text").cast("long").alias("n_bytes"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


def document_features(spark: SparkSession, sf_dir: str, worker) -> DataFrame:
    """`worker` over the fixture documents' (doc_id, payload).  The
    documents are one parquet split, so they are spread across the
    cores first; otherwise every codec call runs in one task."""
    payloads = with_payload(spread(load(spark, sf_dir, "documents"), "doc_id"))
    return payloads.select("doc_id", "payload").mapInPandas(worker, worker.schema)


def _grid(b: bytes, width: int):
    """`b` as a (h, width) uint8 grid, h = max(1, ceil(len(b) / width)),
    the final row padded with spaces."""
    h = max(1, -(-len(b) // width))
    return np.frombuffer(b.ljust(h * width, b" "), np.uint8).reshape(h, width)


def _pcm(b: bytes):
    """16-bit PCM synthesized from payload bytes, (byte-128)<<8 per
    sample: byte-deterministic, so an oracle can re-derive it."""
    return ((np.frombuffer(b, np.uint8).astype(np.int16) - 128) * 256).astype("<i2")


def _blocks_up(grid):
    """Every pixel of `grid` as a constant 8x8 block."""
    return np.repeat(np.repeat(grid, 8, axis=0), 8, axis=1)


def _blocks_down(px):
    """The rounded 8x8 block means of `px`, inverse of `_blocks_up`."""
    h, w = px.shape[0] // 8, px.shape[1] // 8
    blocks = px.reshape(h, 8, w, 8).transpose(0, 2, 1, 3).reshape(h, w, 64)
    return np.round(blocks.mean(axis=2)).astype(np.uint8)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> channels (bit depth 8 only; type 3 resolves via PLTE)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(pixels) -> bytes:
    """Minimal REAL PNG encoder (stdlib only): 8-bit grayscale (H,W) or
    RGB (H,W,3) numpy array -> non-interlaced PNG.  Row r uses filter
    r % 5, so a full encode/decode round trip exercises every PNG
    filter type (None/Sub/Up/Average/Paeth); all filters are computed
    vectorized (the Paeth predictor is an elementwise min-of-three)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        color_type, h, w = 0, px.shape[0], px.shape[1]
        rows = px.reshape(h, w)
    elif px.ndim == 3 and px.shape[2] == 3:
        color_type, h, w = 2, px.shape[0], px.shape[1]
        rows = px.reshape(h, w * 3)
    else:
        raise ValueError("encode_png supports (H,W) gray or (H,W,3) RGB")
    bpp = _PNG_CHANNELS[color_type]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = bytearray()
    prev = np.zeros(rows.shape[1], dtype=np.int16)
    for r in range(h):
        row = rows[r].astype(np.int16)
        left = np.concatenate((np.zeros(bpp, np.int16), row[:-bpp]))
        upleft = np.concatenate((np.zeros(bpp, np.int16), prev[:-bpp]))
        f = r % 5
        if f == 0:
            filt = row
        elif f == 1:
            filt = row - left
        elif f == 2:
            filt = row - prev
        elif f == 3:
            filt = row - (left + prev) // 2
        else:
            p = left + prev - upleft
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = row - pred
        raw.append(f)
        raw.extend((filt % 256).astype(np.uint8).tobytes())
        prev = row
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_image(payload: bytes):
    """REAL stdlib-only PNG decoder: signature + chunk walk with CRC
    verification, zlib inflate of the concatenated IDAT stream, and
    per-row reverse filtering (all five PNG filter types, correct bpp
    offsets).  Returns a numpy uint8 array — (H,W) for grayscale,
    (H,W,C) otherwise; palette (type 3) images resolve through PLTE to
    RGB.  Supports bit depth 8, color types 0/2/3/4/6, non-interlaced.
    JPEG payloads (SOI-signed) dispatch to the real baseline decoder
    (decode_jpeg, x71); GIF payloads dispatch to the real GIF89a codec
    (decode_gif, x65) and return the FIRST frame's color-table indices
    as the still image.  Adam7-interlaced PNGs and every other format
    (WebP/...) raise NotImplementedError; x07's extract_features falls
    back to byte-level features.
    Corrupt PNG-signed payloads raise ValueError (CRC/length mismatch),
    struct.error (truncated header), or zlib.error (damaged deflate) —
    batch callers must treat those as fallback-able too (a bad blob in
    a 100 TB asset scan must not fail the job)."""
    b = bytes(payload)
    if b[:2] == b"\xff\xd8":
        return decode_jpeg(b)  # baseline sequential JPEG (x71 codec)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        _w, _h, frames = decode_gif(b)  # real GIF89a codec (x65)
        if not frames:
            # structurally valid header+trailer but zero image frames —
            # must be ValueError (not IndexError) so batch callers'
            # corrupt-blob fallback catches it
            raise ValueError("GIF has no frames")
        return frames[0][1]  # first frame, (H, W) uint8 indices
    if not b.startswith(_PNG_SIG):
        raise NotImplementedError(
            "not a PNG/JPEG; other image codecs unavailable"
        )
    pos, ihdr, palette, idat = len(_PNG_SIG), None, None, bytearray()
    while pos + 8 <= len(b):
        (ln,) = struct.unpack(">I", b[pos : pos + 4])
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", b[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.extend(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color_type, _comp, _filt, interlace = ihdr
    if interlace != 0:
        raise NotImplementedError("Adam7-interlaced PNG not supported")
    if depth != 8 or color_type not in _PNG_CHANNELS:
        raise NotImplementedError(
            f"PNG bit depth {depth} / color type {color_type} not supported"
        )
    bpp = _PNG_CHANNELS[color_type]
    stride = w * bpp
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        f = raw[r * (stride + 1)]
        filt = np.frombuffer(
            raw, np.uint8, stride, r * (stride + 1) + 1
        ).astype(np.int64)
        if f == 0:
            recon = filt
        elif f == 1:
            # recon[x] = filt[x] + recon[x-bpp]: per-lane cumulative sum
            recon = filt.copy()
            for lane in range(bpp):
                recon[lane::bpp] = np.cumsum(recon[lane::bpp]) % 256
        elif f == 2:
            recon = (filt + prev) % 256
        elif f == 3:
            recon = filt.copy()
            for x in range(stride):
                a = recon[x - bpp] if x >= bpp else 0
                recon[x] = (recon[x] + (a + prev[x]) // 2) % 256
        elif f == 4:
            recon = filt.copy()
            for x in range(stride):
                a = recon[x - bpp] if x >= bpp else 0
                c = prev[x - bpp] if x >= bpp else 0
                p = a + prev[x] - c
                pa, pb, pc = abs(p - a), abs(p - prev[x]), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = prev[x]
                else:
                    pred = c
                recon[x] = (recon[x] + pred) % 256
        else:
            raise ValueError(f"PNG filter type {f} invalid")
        out[r] = recon.astype(np.uint8)
        prev = recon
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        return palette[out.reshape(h, w)]
    if bpp == 1:
        return out.reshape(h, w)
    return out.reshape(h, w, bpp)


def _x07_rows(doc_id: int, b: bytes):
    """Per-blob features.  Payloads a real codec decodes (PNG/GIF/JPEG)
    report the decoded uint8 pixels (count, digest, first pixel).
    Every other format, and a corrupt blob (truncated header ->
    struct.error, bit-flip -> CRC ValueError, damaged deflate ->
    zlib.error), falls back to the same features over the raw bytes:
    a bad blob must never fail the scan."""
    try:
        data = decode_image(b).tobytes()
    except (NotImplementedError, ValueError, struct.error, zlib.error):
        data = b
    yield doc_id, len(data), hashlib.sha256(data).hexdigest(), data[0] if data else None


extract_features = payload_worker(
    _x07_rows, "doc_id long, n_bytes long, payload_sha string, head_byte int"
)


@query(
    "x07_multimodal",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS payload_sha,
           ascii(substring(text, 1, 1)) AS head_byte
    FROM documents
    """,
)
def x07_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No spread: x07's rows are one failed decode and one sha256, cheaper
    # than the spread's exchange (sf0.1, 4 cores: 0.28 s unspread, 0.39 s
    # spread, slower in 15 of 15 same-session pairs).
    payloads = with_payload(load(spark, sf_dir, "documents"))
    return payloads.select("doc_id", "payload").mapInPandas(
        extract_features, extract_features.schema
    )


_PNG_W = 32  # x58 image width: each document renders as a 32-px-wide strip


def _x58_rows(doc_id: int, b: bytes):
    """Render the bytes as an 8-bit grayscale image (width _PNG_W,
    space-padded final row), ENCODE it to a real PNG (encode_png's
    filters rotate through all five types), DECODE it back and report
    the decoded pixels.  The pixel digest equals the digest of the
    padded source bytes iff inflate + unfiltering reconstructed every
    row exactly, which is what the DuckDB oracle asserts from the text
    side."""
    px = decode_image(encode_png(_grid(b, _PNG_W)))
    yield (
        doc_id,
        int(px.shape[1]),
        int(px.shape[0]),
        int(px.size),
        hashlib.sha256(px.tobytes()).hexdigest(),
    )


png_roundtrip_features = payload_worker(
    _x58_rows, "doc_id long, width int, height int, n_px long, pixel_sha string"
)


@query(
    "x58_png_decode",
    oracle=f"""
    SELECT doc_id,
           {_PNG_W} AS width,
           CAST(greatest(1, ceil(octet_length(encode(text)) / {_PNG_W}.0))
                AS INT) AS height,
           CAST({_PNG_W} * greatest(1, ceil(octet_length(encode(text))
                / {_PNG_W}.0)) AS BIGINT) AS n_px,
           sha256(rpad(text,
                       CAST({_PNG_W} * greatest(1,
                            ceil(octet_length(encode(text)) / {_PNG_W}.0))
                            AS INT), ' ')) AS pixel_sha
    FROM documents
    """,
)
def x58_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x58: REAL image decode: documents render to genuine PNGs (stdlib
    encoder, all five filter types) and the stdlib decoder (CRC walk +
    inflate + reverse filtering) recovers the pixel matrix; the oracle
    recomputes the pixel digest straight from the text (fixture text is
    ASCII, so rpad's char padding is byte padding)."""
    return document_features(spark, sf_dir, png_roundtrip_features)


def _x07b_rows(doc_id: int, b: bytes):
    """REAL vectorized compute: the payload viewed as a uint8 tensor
    (numpy zero-copy), split into 8 contiguous segments (np.array_split
    boundaries) and mean-pooled per segment, the shape of a
    patch-embedding stage with the codec decode swapped for the byte
    view.  Empty segments (payloads shorter than 8 bytes) emit no row,
    so the output is well-defined for any blob."""
    arr = np.frombuffer(b, dtype=np.uint8)
    for seg, chunk in enumerate(np.array_split(arr, 8)):
        if chunk.size:
            # exact: integer byte sum / count, then pure-IEEE floor
            # quantization
            mean_e6 = math.floor(float(chunk.sum()) / chunk.size * 1e6 + 0.5)
            yield doc_id, seg, int(mean_e6)


tensor_features = payload_worker(
    _x07b_rows, "doc_id long, seg int, mean_byte_e6 long"
)


# The oracle reproduces np.array_split's boundaries (i*(l//8)+min(i,l%8))
# byte-for-byte over the UTF-8 blob, so the numpy pooling is value-hash
# checked.
@query(
    "x07b_tensor_features",
    oracle="""
    WITH t AS (
      SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS l
      FROM documents),
    pos AS (
      SELECT doc_id, hx, l, unnest(range(l)) AS p FROM t),
    byts AS (
      -- np.array_split: (l%8) leading segments of size l//8+1, the rest
      -- of size l//8; closed-form inverse maps a byte position to its
      -- segment (the ELSE branch is unreachable when l//8 = 0).
      SELECT doc_id,
             CASE WHEN p < (l % 8) * (l // 8 + 1)
                  THEN p // (l // 8 + 1)
                  ELSE (l % 8) + (p - (l % 8) * (l // 8 + 1)) // (l // 8)
             END AS seg,
             CAST(('0x' || substring(hx, CAST(2 * p + 1 AS INT), 2)) AS INT) AS v
      FROM pos)
    SELECT doc_id, CAST(seg AS INT) AS seg,
           CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) AS BIGINT)
             AS mean_byte_e6
    FROM byts GROUP BY 1, 2
    """,
)
def x07b_tensor_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return document_features(spark, sf_dir, tensor_features)


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """REAL image resize, stdlib+numpy only: decode through the real
    codecs (PNG/GIF/JPEG via decode_image), nearest-neighbor resample
    with integer index math (out(i,j) = src((i*H) div height,
    (j*W) div width), exact and engine-reproducible, no interpolation
    arithmetic to drift) and re-encode as PNG.  Raises what
    decode_image raises on a payload no real codec decodes, the error
    classes x07's extract_features falls back on."""
    arr = decode_image(payload)
    h, w = arr.shape[0], arr.shape[1]
    rows = (np.arange(height) * h) // height
    cols = (np.arange(width) * w) // width
    resized = arr[rows][:, cols]
    return encode_png(resized)


# --- x42: video frame sampling (T7 temporal-media arm) --------------------------
# A video stage samples every S-th frame before feature extraction (the
# standard decode-cost lever).  x42 treats the payload as fixed-size
# frame records (FB bytes per frame), which keeps the frame arithmetic
# and the sampled-bytes fingerprint byte-checkable in SQL (fixture text
# is ASCII, so char offsets == byte offsets).
_FRAME_BYTES = 32
_FRAME_STRIDE = 4


def decode_video(payload: bytes) -> object:
    """Video demux/decode.  REAL for AVI carrying uncompressed DIB
    (x70) or Motion-JPEG (x76, every frame chunk decoded through the
    x71 baseline JPEG codec); INTER-FRAME codecs (H.264/VP9, non-AVI
    containers) raise NotImplementedError because decoding them needs
    ffmpeg/pyav, which this container lacks."""
    b = bytes(payload)
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        return decode_avi(b)
    raise NotImplementedError(
        "compressed video codecs not available in this environment"
    )


def _x42_rows(doc_id: int, b: bytes):
    """Every _FRAME_STRIDE-th fixed-size frame of the payload,
    md5-fingerprinted.  Byte slicing never parses the payload, so no
    blob can fail the scan."""
    n_frames = max(1, math.ceil(len(b) / _FRAME_BYTES))
    picks = range(0, n_frames, _FRAME_STRIDE)
    sampled = b"".join(b[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES] for i in picks)
    yield doc_id, n_frames, len(picks), hashlib.md5(sampled).hexdigest()


x42_sample_worker = payload_worker(
    _x42_rows, "doc_id long, n_frames long, n_sampled long, sample_fp string"
)


@query(
    "x42_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(greatest(1, CAST(ceil(len(text) / {_FRAME_BYTES}.0) AS BIGINT))
             AS BIGINT) AS n_frames,
           CAST((greatest(1, CAST(ceil(len(text) / {_FRAME_BYTES}.0) AS BIGINT))
                 + {_FRAME_STRIDE - 1}) // {_FRAME_STRIDE} AS BIGINT) AS n_sampled,
           md5(array_to_string(list_transform(
                 range(0, CAST(greatest(1, CAST(ceil(len(text) / {_FRAME_BYTES}.0)
                                             AS BIGINT)) AS BIGINT), {_FRAME_STRIDE}),
                 i -> substr(text, CAST(i * {_FRAME_BYTES} + 1 AS BIGINT),
                             {_FRAME_BYTES})), '')) AS sample_fp
    FROM documents
    """,
)
def x42_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample the manufactured video payloads: every
    `_FRAME_STRIDE`th fixed-size frame, fingerprinted; the oracle
    re-derives frame boundaries and the sampled-bytes md5 from the same
    ASCII payloads."""
    return document_features(spark, sf_dir, x42_sample_worker)


# --- x64: REAL audio decode (stdlib WAV codec + framed features) -----------------
#
# Same posture as the PNG pair above: a hand-rolled RIFF/WAVE writer and
# a hand-rolled chunk-walk parser (both stdlib-only), cross-validated
# against the stdlib `wave` module in tests.  Reference anchor: none
# (the reference has no multimodal at all).

_WAV_RATE = 16000
_WAV_FRAME = 256  # samples per analysis frame (non-overlapping)


def encode_wav(samples, rate: int = _WAV_RATE) -> bytes:
    """Minimal REAL WAV encoder (stdlib only): mono 16-bit signed PCM
    numpy array -> canonical RIFF/WAVE bytes (fmt + data chunks, even
    chunk padding per the RIFF spec).  Output opens cleanly in the
    stdlib `wave` module (asserted in tests)."""
    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
        + (b"\x00" if len(pcm) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def decode_wav(payload: bytes):
    """REAL stdlib-only WAV parser: RIFF signature + chunk walk (skips
    unknown chunks, honors even-byte chunk padding), fmt validation
    (PCM tag 1, mono/stereo, 16-bit), data extraction.  Returns
    (rate, channels, sampwidth_bytes, samples) with samples a
    little-endian int16 numpy array (interleaved when stereo).
    Non-RIFF payloads and non-PCM encodings raise NotImplementedError;
    structurally broken WAVs (missing/truncated fmt or data chunks)
    raise ValueError — callers fall back exactly as for PNG."""
    b = bytes(payload)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE payload")
    fmt = None
    data = None
    off = 12
    while off + 8 <= len(b):
        cid = b[off : off + 4]
        (clen,) = struct.unpack("<I", b[off + 4 : off + 8])
        chunk = b[off + 8 : off + 8 + clen]
        if len(chunk) < clen:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt = chunk
        elif cid == b"data":
            data = chunk
        off += 8 + clen + (clen % 2)  # chunks are even-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if len(fmt) < 16:
        raise ValueError(f"fmt chunk too short ({len(fmt)} bytes)")
    tag, channels, rate, _brate, _align, bits = struct.unpack("<HHIIHH", fmt[:16])
    if tag != 1:
        raise NotImplementedError(f"non-PCM WAV (format tag {tag})")
    if bits != 16 or channels not in (1, 2):
        raise NotImplementedError("only 16-bit mono/stereo PCM supported")
    samples = np.frombuffer(data[: len(data) - len(data) % 2], dtype="<i2")
    return rate, channels, 2, samples


def _x64_rows(doc_id: int, b: bytes):
    """Encode the payload's PCM (`_pcm`) to a genuine WAV container,
    decode it back with the chunk-walk parser, then report per-frame
    energy/peak over the DECODED samples.  The container header fields
    (rate, channels) flow through to the output, so a header-parse
    regression is value-hash visible."""
    rate, channels, _width, dec = decode_wav(encode_wav(_pcm(b)))
    s = dec.astype(np.int64)
    for f in range(0, len(s), _WAV_FRAME):
        chunk = s[f : f + _WAV_FRAME]
        yield (
            doc_id,
            f // _WAV_FRAME,
            int(chunk.size),
            int((chunk * chunk).sum()),
            int(np.abs(chunk).max()),
            int(rate),
            int(channels),
        )


wav_roundtrip_features = payload_worker(
    _x64_rows,
    "doc_id long, frame_id int, n_samples int, energy long, peak int, "
    "rate int, channels int",
)


@query(
    "x64_wav_decode",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS l
      FROM documents),
    pos AS (
      SELECT doc_id, hx, unnest(range(l)) AS p FROM t),
    smp AS (
      SELECT doc_id, p,
             CAST((CAST(('0x' || substring(hx, CAST(2 * p + 1 AS INT), 2))
                        AS INT) - 128) * 256 AS BIGINT) AS s
      FROM pos)
    SELECT doc_id,
           CAST(p // {_WAV_FRAME} AS INT) AS frame_id,
           CAST(COUNT(*) AS INT) AS n_samples,
           CAST(SUM(s * s) AS BIGINT) AS energy,
           CAST(MAX(abs(s)) AS INT) AS peak,
           {_WAV_RATE} AS rate,
           1 AS channels
    FROM smp GROUP BY 1, 2
    """,
)
def x64_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x64: REAL audio decode: payload bytes become 16-bit PCM, encoded
    into a genuine RIFF/WAVE container and decoded back through the
    stdlib chunk-walk parser (cross-validated against the `wave` module
    in tests), then framed into 256-sample windows with integer
    energy/peak features; the oracle re-derives every sample value and
    frame boundary from the text bytes."""
    return document_features(spark, sf_dir, wav_roundtrip_features)


# --- x65: REAL animation decode (stdlib GIF89a codec + frame sampling) -----------
#
# A genuine multi-frame container: a stdlib-only animated-GIF89a writer
# (real variable-width LZW compressor, sub-block framing, per-frame
# graphic-control delays) and a matching parser (block walk, LZW
# decompressor with clear/EOI and code-width growth), so frame
# extraction + per-frame timing decode a real animation format end to
# end.

_GIF_W, _GIF_H = 16, 8  # frame geometry: 128 payload bytes per frame


def _lzw_encode(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF-flavor LZW: variable code width (grows at 2^n+1 entries,
    caps at 12 bits, emits CLEAR and resets on table overflow),
    LSB-first bit packing, CLEAR prologue + EOI epilogue."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    bitbuf = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code, width = eoi + 1, min_code_size + 1
    emit(clear, width)
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        # the decoder learns this entry one code later, so it widens at
        # next==2^n while the encoder widens at next==2^n+1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == (1 << 12) + 1:  # table full: reset both sides
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code, width = eoi + 1, min_code_size + 1
        w = wc[-1:]
    if w:
        emit(table[w], width)
        # the decoder appends an entry (and may widen) after processing
        # this final code, THEN reads EOI — mirror that bookkeeping or
        # EOI goes out one bit narrower than the decoder reads it
        # (found by fuzzing at min_code_size=2: boundary-aligned final
        # codes made decode of the encoder's own output fail)
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int = 8) -> bytes:
    """Inverse of :func:`_lzw_encode` (the general GIF decoder: handles
    the KwKwK self-reference case and mid-stream CLEAR resets)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    bitbuf = nbits = pos = 0

    def read(width: int) -> int:
        nonlocal bitbuf, nbits, pos
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        return code

    table: list[bytes] = []
    next_free = width = 0
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, next_free, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        next_free, width, prev = eoi + 1, min_code_size + 1, None

    reset()
    while True:
        code = read(width)
        if code == clear:
            reset()
            continue
        if code == eoi:
            return bytes(out)
        if code < next_free and code not in (clear, eoi):
            entry = table[code]
        elif code == next_free and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"bad LZW code {code}")
        out.extend(entry)
        if prev is not None:
            table.append(prev + entry[:1])
            next_free += 1
            if next_free == (1 << width) and width < 12:
                width += 1
        prev = entry


def _gif_subblocks(data: bytes) -> bytes:
    """Wrap raw bytes into GIF <=255-byte sub-blocks + terminator."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out.extend(chunk)
    out.append(0)
    return bytes(out)


def encode_gif(frames, delays_cs) -> bytes:
    """Minimal REAL animated-GIF89a encoder (stdlib only): frames are
    (_GIF_H, _GIF_W) uint8 index arrays over a 256-entry grayscale
    global color table; each frame carries a graphic-control delay
    (centiseconds).
    Includes the Netscape looping extension, so the output is the exact
    grammar browsers animate."""
    out = bytearray(b"GIF89a")
    w, h = _GIF_W, _GIF_H
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT: 256 entries
    for i in range(256):
        out += bytes((i, i, i))
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop forever
    for px, delay in zip(frames, delays_cs):
        arr = np.asarray(px, dtype=np.uint8).reshape(h, w)
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out += bytes([8]) + _gif_subblocks(_lzw_encode(arr.tobytes(), 8))
    out += b"\x3b"
    return bytes(out)


def decode_gif(payload: bytes):
    """REAL stdlib-only animated-GIF parser: header + logical screen
    descriptor, global color table, block walk (graphic-control and
    application extensions, image descriptors), sub-block reassembly,
    and full LZW decompression per frame.  Returns (width, height,
    frames) where frames is a list of (delay_cs, pixels) with pixels a
    (h, w) uint8 numpy array of color-table indices.  Non-GIF payloads
    raise NotImplementedError (the fallback contract); interlaced or
    local-color-table frames and structurally broken files raise
    ValueError."""
    b = bytes(payload)
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF payload")
    w, h, packed, _bg, _aspect = struct.unpack("<HHBBB", b[6:13])
    off = 13
    if packed & 0x80:
        off += 3 * (2 << (packed & 0x07))  # skip global color table
    frames = []
    delay = 0
    while off < len(b):
        block = b[off]
        off += 1
        if block == 0x3B:  # trailer
            return w, h, frames
        if block == 0x21:  # extension: label + sub-blocks
            if off >= len(b):
                raise ValueError("truncated extension")
            label = b[off]
            off += 1
            blocks = []
            while True:
                if off >= len(b):
                    raise ValueError("truncated extension sub-blocks")
                n = b[off]
                off += 1
                if n == 0:
                    break
                blocks.append(b[off : off + n])
                off += n
            if label == 0xF9 and blocks:  # graphic control: frame delay
                delay = struct.unpack("<H", blocks[0][1:3])[0]
            continue
        if block == 0x2C:  # image descriptor
            if off + 10 > len(b):
                raise ValueError("truncated image descriptor")
            left, top, fw, fh, fpacked = struct.unpack(
                "<HHHHB", b[off : off + 9]
            )
            off += 9
            if fpacked & 0xC0:
                raise ValueError("local color table / interlace unsupported")
            min_code = b[off]
            off += 1
            lzw = bytearray()
            while True:
                if off >= len(b):
                    raise ValueError("truncated image sub-blocks")
                n = b[off]
                off += 1
                if n == 0:
                    break
                if off + n > len(b):
                    raise ValueError("truncated image sub-block")
                lzw.extend(b[off : off + n])
                off += n
            raw = _lzw_decode(bytes(lzw), min_code)
            if len(raw) != fw * fh:
                raise ValueError("frame pixel count mismatch")
            frames.append(
                (delay, np.frombuffer(raw, np.uint8).reshape(fh, fw))
            )
            delay = 0
            continue
        raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("missing GIF trailer")


def _x65_rows(doc_id: int, b: bytes):
    """The payload becomes an animated GIF (one 16x8 frame per 128
    bytes, space-padded tail, delay = frame index centiseconds),
    encoded and decoded through the stdlib codec; the per-frame
    digest/delay come from the DECODED frames."""
    frames = _grid(b, _GIF_W * _GIF_H).reshape(-1, _GIF_H, _GIF_W)
    _w, _h, decoded = decode_gif(encode_gif(frames, range(len(frames))))
    for fid, (delay, px) in enumerate(decoded):
        yield (
            doc_id,
            fid,
            int(delay),
            int(px.size),
            hashlib.sha256(px.tobytes()).hexdigest(),
        )


gif_roundtrip_features = payload_worker(
    _x65_rows, "doc_id long, frame_id int, delay_cs int, n_px int, frame_sha string"
)


@query(
    "x65_gif_decode",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             rpad(text,
                  CAST({_GIF_W * _GIF_H} * greatest(1,
                       ceil(octet_length(encode(text))
                            / {_GIF_W * _GIF_H}.0)) AS INT),
                  ' ') AS padded,
             CAST(greatest(1, ceil(octet_length(encode(text))
                                   / {_GIF_W * _GIF_H}.0)) AS INT) AS nf
      FROM documents)
    SELECT doc_id,
           CAST(f AS INT) AS frame_id,
           CAST(f AS INT) AS delay_cs,
           {_GIF_W * _GIF_H} AS n_px,
           sha256(substring(padded,
                            CAST(f * {_GIF_W * _GIF_H} + 1 AS INT),
                            {_GIF_W * _GIF_H})) AS frame_sha
    FROM t, unnest(range(nf)) AS r(f)
    """,
)
def x65_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x65: REAL animation decode: documents render to genuine animated
    GIF89a files (stdlib encoder with a real variable-width LZW
    compressor and per-frame timing) and the stdlib parser (block walk
    + LZW decompressor) recovers every frame and its delay; the oracle
    recomputes each frame digest straight from the text (ASCII fixture,
    so rpad/substring are byte-exact)."""
    return document_features(spark, sf_dir, gif_roundtrip_features)


# --- x70: REAL video decode (stdlib AVI codec, uncompressed DIB frames) ----------
#
# A stdlib-only AVI writer/parser pair for uncompressed 24-bit DIB video
# (RIFF grammar reused from the WAV codec: LIST hdrl with
# avih/strh/strf headers, movi LIST of 00db frame chunks with bottom-up
# 4-byte-aligned DIB rows, idx1 index); `decode_video` dispatches to it.

_AVI_W, _AVI_H = 16, 8  # same frame geometry as the GIF arm
_AVI_FPS = 25


_MJPG_FOURCC = 0x47504A4D  # 'MJPG' little-endian, strf biCompression


def encode_avi(
    frames,
    fps: int = _AVI_FPS,
    w: int = _AVI_W,
    h: int = _AVI_H,
    codec: str = "dib",
) -> bytes:
    """Minimal REAL AVI encoder (stdlib only).  codec="dib": frames are
    (h, w, 3) uint8 BGR arrays written as uncompressed DIB ('DIB '
    handler, biCompression=0) — bottom-up rows, 4-byte-aligned stride.
    codec="mjpg": frames are uint8 arrays handed to the x71 baseline
    JPEG encoder; each '00dc' chunk is a complete JPEG (the Motion-JPEG
    convention — 'MJPG' handler, biCompression='MJPG').  Both wrap the
    canonical RIFF/AVI LIST structure with an idx1 index."""
    stride = (w * 3 + 3) & ~3
    frame_bytes = []
    if codec == "mjpg":
        frame_cid = b"00dc"
        handler, compression = b"MJPG", _MJPG_FOURCC
        for px in frames:
            frame_bytes.append(encode_jpeg(np.asarray(px, dtype=np.uint8)))
        buf_size = max(len(fb) for fb in frame_bytes) if frame_bytes else 0
    elif codec == "dib":
        frame_cid = b"00db"
        handler, compression = b"DIB ", 0
        for px in frames:
            arr = np.asarray(px, dtype=np.uint8).reshape(h, w, 3)
            rows = []
            for r in range(h - 1, -1, -1):  # DIB rows store bottom-up
                row = arr[r].tobytes()
                rows.append(row + b"\x00" * (stride - len(row)))
            frame_bytes.append(b"".join(rows))
        buf_size = stride * h
    else:
        raise ValueError(f"unknown codec {codec!r}")

    def chunk(cid: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return cid + struct.pack("<I", len(data)) + data + pad

    def lst(kind: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", kind + data)

    n = len(frame_bytes)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, buf_size * fps, 0, 0x10, n, 0, 1,
        buf_size, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIiI4h",
        b"vids", handler, 0, 0, 0, 0, 1, fps, 0, n,
        buf_size, -1, 0, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, compression, buf_size, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_chunks = [chunk(frame_cid, fb) for fb in frame_bytes]
    movi = lst(b"movi", b"".join(movi_chunks))
    idx = bytearray()
    off = 4  # offsets are relative to the start of 'movi' list data
    for fb in frame_bytes:
        idx += frame_cid + struct.pack("<III", 0x10, off, len(fb))
        off += 8 + len(fb) + (len(fb) % 2)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes):
    """REAL stdlib-only AVI parser: RIFF/AVI signature, recursive LIST
    walk, strh/strf header decode (frame geometry, fps, bit depth),
    00db/00dc frame chunk extraction.  Two REAL stream formats: 'DIB '
    (uncompressed 24-bit — row de-padding, bottom-up flip; frames come
    back as (h, w, 3) uint8 BGR) and 'MJPG' (Motion-JPEG — every frame
    chunk is a complete baseline JPEG, decoded through the x71 codec;
    frames come back exactly as decode_jpeg returns them: (h, w) gray
    or (h, w, 3) RGB).  Returns (width, height, fps, frames).  Non-AVI
    payloads raise NotImplementedError; genuinely-ffmpeg codecs
    (H.264/VP9/...) raise NotImplementedError; structurally broken
    files raise ValueError."""
    b = bytes(payload)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise NotImplementedError("not a RIFF/AVI payload")
    w = h = fps = bits = None
    compression = None
    mjpg = False
    frames_raw: list[bytes] = []

    def walk(start: int, end: int) -> None:
        nonlocal w, h, fps, bits, compression, mjpg
        off = start
        while off + 8 <= end:
            cid = b[off : off + 4]
            (clen,) = struct.unpack("<I", b[off + 4 : off + 8])
            data_start = off + 8
            if data_start + clen > end:
                raise ValueError(f"truncated {cid!r} chunk")
            if cid == b"LIST":
                walk(data_start + 4, data_start + clen)
            elif cid == b"strh":
                fcc_type, handler = b[data_start : data_start + 4], b[
                    data_start + 4 : data_start + 8
                ]
                if fcc_type == b"vids":
                    if handler == b"MJPG":
                        mjpg = True
                    elif handler not in (b"DIB ", b"\x00\x00\x00\x00"):
                        raise NotImplementedError(
                            f"compressed video handler {handler!r}"
                        )
                    scale, rate = struct.unpack(
                        "<II", b[data_start + 20 : data_start + 28]
                    )
                    fps = rate // max(scale, 1)
            elif cid == b"strf":
                (_sz, bw, bh, _planes, bbits, comp) = struct.unpack(
                    "<IiiHHI", b[data_start : data_start + 20]
                )
                w, h, bits, compression = bw, abs(bh), bbits, comp
                if comp not in (0, _MJPG_FOURCC):
                    raise NotImplementedError(
                        f"compressed DIB (biCompression={comp})"
                    )
            elif cid in (b"00db", b"00dc"):
                frames_raw.append(b[data_start : data_start + clen])
            off = data_start + clen + (clen % 2)

    walk(12, len(b))
    if w is None or h is None or bits is None:
        raise ValueError("missing strf header")
    if mjpg or compression == _MJPG_FOURCC:
        if not (mjpg and compression == _MJPG_FOURCC):
            raise ValueError("inconsistent MJPG handler/biCompression")
        return w, h, fps, [decode_jpeg(fb) for fb in frames_raw]
    if bits != 24:
        raise NotImplementedError(f"{bits}-bit DIB not supported")
    stride = (w * 3 + 3) & ~3
    frames = []
    for fb in frames_raw:
        if len(fb) != stride * h:
            raise ValueError("frame size mismatch")
        rows = np.frombuffer(fb, np.uint8).reshape(h, stride)[:, : w * 3]
        frames.append(rows.reshape(h, w, 3)[::-1].copy())  # un-flip
    return w, h, fps, frames


def _x70_rows(doc_id: int, b: bytes):
    """The payload becomes grayscale BGR frames (one 16x8 frame per 128
    bytes, space-padded tail, b=g=r=byte), encoded into a genuine AVI
    and decoded back through the chunk-walk parser; per-frame digests
    come from the DECODED gray channel, so they equal a digest over the
    original bytes iff the whole container round-trips."""
    grays = _grid(b, _AVI_W * _AVI_H).reshape(-1, _AVI_H, _AVI_W)
    frames = [np.repeat(gray[:, :, None], 3, axis=2) for gray in grays]
    _w, _h, fps, dec = decode_avi(encode_avi(frames))
    for fid, px in enumerate(dec):
        yield (
            doc_id,
            fid,
            int(px.shape[0] * px.shape[1]),
            hashlib.sha256(px[:, :, 0].tobytes()).hexdigest(),
            int(fps),
        )


avi_roundtrip_features = payload_worker(
    _x70_rows, "doc_id long, frame_id int, n_px int, frame_sha string, fps int"
)


@query(
    "x70_avi_decode",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             rpad(text,
                  CAST({_AVI_W * _AVI_H} * greatest(1,
                       ceil(octet_length(encode(text))
                            / {_AVI_W * _AVI_H}.0)) AS INT),
                  ' ') AS padded,
             CAST(greatest(1, ceil(octet_length(encode(text))
                                   / {_AVI_W * _AVI_H}.0)) AS INT) AS nf
      FROM documents)
    SELECT doc_id,
           CAST(f AS INT) AS frame_id,
           {_AVI_W * _AVI_H} AS n_px,
           sha256(substring(padded,
                            CAST(f * {_AVI_W * _AVI_H} + 1 AS INT),
                            {_AVI_W * _AVI_H})) AS frame_sha,
           {_AVI_FPS} AS fps
    FROM t, unnest(range(nf)) AS r(f)
    """,
)
def x70_avi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x70: REAL video-container decode: documents render to genuine
    uncompressed-DIB AVI files (RIFF LIST grammar, bottom-up padded
    rows, idx1 index) and the stdlib parser recovers every frame and
    the fps; the oracle recomputes each frame digest from the text."""
    return document_features(spark, sf_dir, avi_roundtrip_features)


# --- x71: REAL baseline JPEG codec ----------------------------------------------
# PNG (x58), WAV (x64), GIF (x65) and AVI (x70) are lossless container
# codecs; JPEG is the lossy image format a real asset scan meets that
# is feasible without ffmpeg — baseline sequential DCT
# (ISO/IEC 10918-1): level shift -> 8x8 FDCT -> quantize -> zigzag ->
# DC-predicted / run-length Huffman entropy coding with byte stuffing.
# Both directions are implemented from the public spec: the encoder
# emits SOI/DQT/SOF0/DHT/SOS/EOI with the Annex-K standard Huffman
# tables, the decoder walks the markers, canonical-Huffman-decodes the
# scan, dequantizes, inverse-DCTs and (for color) converts YCbCr back
# to RGB.  Quantization tables are all-ones here (legal JPEG, "quality
# 100"): the codec stays bit-faithful through the entropy layer, and
# the only loss is FDCT-coefficient rounding — which vanishes for
# block-constant inputs (DC-only spectra), the property the x71
# round-trip key exploits so the DuckDB oracle can state the decoded
# digest from the text side.  Progressive (SOF2), arithmetic coding,
# subsampled chroma and restart markers raise NotImplementedError;
# truncated or corrupt payloads raise ValueError.

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K standard Huffman specifications: (bits[1..16], huffval)
_JPEG_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
_JPEG_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
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
    ],
)


#: table-construction memos (optimization r13, guide §4.5: heavyweight
#: init once per task, not per frame).  The MJPEG/JPEG workers call
#: encode_jpeg/decode_jpeg once per FRAME (~20 frames/doc), and the
#: profile showed ~15% of worker CPU rebuilding these pure-constant
#: tables: _dct_matrix + the 4 Annex-K Huffman tables per call.  The
#: memos are keyed by the table bytes, so a (hypothetical) payload
#: carrying non-standard DHT tables still decodes correctly — identical
#: inputs, identical tables, bit-identical output.  Bounded: real
#: inputs only ever present the 4 standard tables.
_JPEG_CODES_MEMO: dict[tuple, dict] = {}


def _jpeg_canonical_codes(bits, vals):
    """Canonical Huffman code assignment (spec C.2): symbols ordered by
    code length then table order; returns {symbol: (code, length)}."""
    key = (tuple(bits), tuple(vals))
    memo = _JPEG_CODES_MEMO.get(key)
    if memo is not None:
        return memo
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    if len(_JPEG_CODES_MEMO) < 64:  # plenty for the 4 standard tables
        _JPEG_CODES_MEMO[key] = out
    return out


_JPEG_LUT_MEMO: dict[tuple, tuple] = {}


def _jpeg_decode_lut(bits, vals):
    """16-bit lookup decode tables (sym, code_length) — the standard
    fast Huffman decoder: every canonical code of length L owns the
    2^(16-L) LUT slots that share its L-bit prefix, so one peek of the
    next 16 bits resolves symbol AND length in two array indexes
    instead of a per-bit dict walk (measured ~2x on the x71/x76 scan
    decode, guide §4 python-worker throughput).  Slots covered by no
    code keep length 0 -> 'invalid JPEG Huffman code', exactly the
    per-bit walk's failure case (canonical codes are prefix-free, so
    for any valid stream the two decoders resolve identical (sym, L)).
    Memoized per table content, same policy as the code-table memo."""
    key = (tuple(bits), tuple(vals))
    memo = _JPEG_LUT_MEMO.get(key)
    if memo is not None:
        return memo
    sym_lut = np.zeros(1 << 16, np.uint8)
    len_lut = np.zeros(1 << 16, np.uint8)
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            sym_lut[lo:hi] = vals[k]
            len_lut[lo:hi] = length
            code += 1
            k += 1
        code <<= 1
    # plain lists: CPython list indexing is ~10x a numpy scalar getitem,
    # and the decoder does one probe per Huffman symbol
    out = (sym_lut.tolist(), len_lut.tolist())
    if len(_JPEG_LUT_MEMO) < 64:
        _JPEG_LUT_MEMO[key] = out
    return out


#: lazily-built DCT basis (same lazy-constant pattern as _PHASH_C)
_DCT_MATRIX = None


def _dct_matrix():
    global _DCT_MATRIX
    if _DCT_MATRIX is None:
        x = np.arange(8)
        D = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
        D[0, :] *= 1 / np.sqrt(2)
        _DCT_MATRIX = D
    return _DCT_MATRIX


class _JpegBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (spec F.1.2.3)
                self.buf.append(0x00)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.buf)


def _jpeg_category(v: int) -> int:
    return abs(v).bit_length()


def _jpeg_amplitude(v: int, s: int) -> int:
    return v if v >= 0 else v + (1 << s) - 1


def _jpeg_blocks(channel):
    """(H8, W8) channel -> (n_blocks, 8, 8) in raster MCU order."""
    h, w = channel.shape
    return (
        channel.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        .astype(np.float64)
    )


def encode_jpeg(pixels) -> bytes:
    """Baseline sequential JPEG encoder (stdlib + numpy).  Accepts a
    uint8 (H, W) grayscale or (H, W, 3) RGB array; RGB converts to
    YCbCr (JFIF) and encodes 4:4:4 — one block per component per MCU.
    All-ones quantization tables (legal "quality 100"): the only loss
    is FDCT-coefficient rounding, so block-constant inputs round-trip
    exactly (DC-only spectra).  Annex-K standard Huffman tables."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        comps = [px.astype(np.float64)]
    elif px.ndim == 3 and px.shape[2] == 3:
        r, g, b = (px[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        comps = [y, cb, cr]
    else:
        raise ValueError("encode_jpeg wants (H,W) gray or (H,W,3) RGB")
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    h8, w8 = -(-h // 8) * 8, -(-w // 8) * 8
    D = _dct_matrix()
    dc_tabs = [_jpeg_canonical_codes(*_JPEG_DC_LUMA)]
    ac_tabs = [_jpeg_canonical_codes(*_JPEG_AC_LUMA)]
    if len(comps) == 3:
        dc_tabs.append(_jpeg_canonical_codes(*_JPEG_DC_CHROMA))
        ac_tabs.append(_jpeg_canonical_codes(*_JPEG_AC_CHROMA))

    quantized = []
    for comp in comps:
        padded = np.pad(comp, ((0, h8 - h), (0, w8 - w)), mode="edge")
        blocks = _jpeg_blocks(padded) - 128.0
        # batched BLAS matmul (D @ block @ D.T), ~10x over einsum here
        coef = np.matmul(D, np.matmul(blocks, D.T))
        q = np.round(coef).astype(np.int64)
        np.clip(q[:, 1:, :], -1023, 1023, out=q[:, 1:, :])
        np.clip(q[:, :, 1:], -1023, 1023, out=q[:, :, 1:])
        quantized.append(q.reshape(-1, 64)[:, _JPEG_ZIGZAG])

    bw = _JpegBitWriter()
    pred = [0] * len(comps)
    for n in range(quantized[0].shape[0]):  # interleaved 4:4:4 MCUs
        for ci, zz in enumerate(quantized):
            ti = min(ci, 1)
            dct, act = dc_tabs[ti], ac_tabs[ti]
            blk = zz[n]
            diff = int(blk[0]) - pred[ci]
            pred[ci] = int(blk[0])
            s = _jpeg_category(diff)
            code, ln = dct[s]
            bw.put(code, ln)
            if s:
                bw.put(_jpeg_amplitude(diff, s), s)
            # iterate only the nonzero ACs (block-constant inputs — the
            # x71 hot path — skip the whole 63-slot walk)
            nz = np.nonzero(blk[1:])[0]
            prev_k = 0
            for idx in nz:
                k = int(idx) + 1
                run = k - prev_k - 1
                while run > 15:
                    code, ln = act[0xF0]  # ZRL
                    bw.put(code, ln)
                    run -= 16
                v = int(blk[k])
                s = _jpeg_category(v)
                code, ln = act[(run << 4) | s]
                bw.put(code, ln)
                bw.put(_jpeg_amplitude(v, s), s)
                prev_k = k
            if prev_k < 63:
                code, ln = act[0x00]  # EOB
                bw.put(code, ln)

    qt = bytes([1] * 64)
    out = bytearray(b"\xff\xd8")  # SOI
    # DQT (table 0; plus table 1 for color)
    for tq in range(2 if len(comps) == 3 else 1):
        out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + bytes([tq]) + qt
    # SOF0
    ncomp = len(comps)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, min(ci, 1)])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT
    specs = [(0x00, _JPEG_DC_LUMA), (0x10, _JPEG_AC_LUMA)]
    if ncomp == 3:
        specs += [(0x01, _JPEG_DC_CHROMA), (0x11, _JPEG_AC_CHROMA)]
    for tc_th, (bits, vals) in specs:
        body = bytes([tc_th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    # SOS
    sos = bytes([ncomp])
    for ci in range(ncomp):
        t = min(ci, 1)
        sos += bytes([ci + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _jpeg_unstuff(data: bytes, pos: int) -> bytes:
    """Entropy-coded segment starting at `pos` with 0xFF00 stuffing
    removed; stops at the first real marker.  Restart markers raise
    NotImplementedError (the encoder never emits DRI)."""
    out = bytearray()
    i = pos
    n = len(data)
    while True:
        j = data.find(b"\xff", i)
        if j < 0 or j + 1 >= n:
            out += data[i : j if j >= 0 else n]
            break  # truncated scan: the bit reader raises at exhaustion
        out += data[i:j]
        m = data[j + 1]
        if m == 0x00:
            out.append(0xFF)
            i = j + 2
        elif 0xD0 <= m <= 0xD7:
            raise NotImplementedError("JPEG restart markers")
        else:
            break  # real marker ends the scan
    return bytes(out)


class _JpegBitReader:
    """Rolling-buffer bit cursor over the pre-unstuffed scan with
    16-bit-LUT Huffman decode (_jpeg_decode_lut): each code resolves
    in one peek + two array indexes, vs the previous per-bit
    unpackbits walk with a dict probe per candidate length (~2x on the
    x71/x76 scan decode).  `nbits` bounds CONSUMPTION at the real scan
    length — peeks may read zero-padding past the end (a decoder that
    stops at the last MCU never consumes it), but consuming past the
    end raises the same 'JPEG scan truncated' as before."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.scan = _jpeg_unstuff(data, pos)
        self.nbits = len(self.scan) * 8
        self.pos = 0  # next byte to pull into the buffer
        self.acc = 0  # right-aligned bit buffer
        self.have = 0  # valid bits in acc (includes virtual pad)
        self.used = 0  # REAL bits consumed so far

    def _fill(self, k: int) -> None:
        scan, n = self.scan, len(self.scan)
        while self.have < k:
            if self.pos < n:
                self.acc = (self.acc << 8) | scan[self.pos]
                self.pos += 1
            else:
                self.acc <<= 8  # virtual zero pad (peek-only territory)
            self.have += 8

    def _take(self, k: int) -> int:
        if self.used + k > self.nbits:
            raise ValueError("JPEG scan truncated")
        self._fill(k)
        self.have -= k
        v = (self.acc >> self.have) & ((1 << k) - 1)
        self.acc &= (1 << self.have) - 1
        self.used += k
        return v

    def bit(self) -> int:
        return self._take(1)

    def bits(self, k: int) -> int:
        return self._take(k)

    def huffman(self, lut) -> int:
        sym_lut, len_lut = lut
        if self.have < 16:
            self._fill(16)
        have = self.have
        c = (self.acc >> (have - 16)) & 0xFFFF
        length = len_lut[c]
        if length == 0:
            # no canonical code owns this 16-bit prefix — same failure
            # the per-bit walk hit after exhausting length 16
            if self.used >= self.nbits:
                raise ValueError("JPEG scan truncated")
            raise ValueError("invalid JPEG Huffman code")
        used = self.used + length
        if used > self.nbits:
            raise ValueError("JPEG scan truncated")
        have -= length
        self.have = have
        self.acc &= (1 << have) - 1
        self.used = used
        return sym_lut[c]


def decode_jpeg(payload: bytes):
    """Baseline sequential JPEG decoder (stdlib + numpy): marker walk
    (DQT/DHT/SOF0/SOS), canonical Huffman scan decode with byte
    unstuffing, dequantize, un-zigzag, IDCT, level shift; YCbCr→RGB
    for 3-component scans.  Returns uint8 (H, W) or (H, W, 3).
    Progressive/arithmetic/hierarchical frames, subsampled chroma and
    restart intervals raise NotImplementedError; truncated or
    malformed payloads raise ValueError."""
    b = bytes(payload)
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG payload")
    pos = 2
    qt: dict[int, object] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    comps = None
    while True:
        if pos + 4 > len(b):
            raise ValueError("JPEG truncated before SOS")
        if b[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = b[pos + 1]
        if marker == 0xFF:  # fill byte (spec B.1.1.2): skip, re-sync
            pos += 1
            continue
        if marker == 0xD8:
            pos += 2
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # standalone markers (TEM, RSTn): no length field
            pos += 2
            continue
        if marker == 0xD9:  # EOI before SOS: no image data
            raise ValueError("JPEG EOI before SOS")
        (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
        seg = b[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("JPEG segment truncated")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tqi = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, np.int64)
                tbl[_JPEG_ZIGZAG] = np.frombuffer(
                    seg[i + 1 : i + 65], np.uint8
                )
                qt[tqi] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _jpeg_decode_lut(bits, vals)
                i += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError("non-8-bit JPEG precision")
            comps = []
            for ci in range(nc):
                cid, samp, tqi = seg[6 + 3 * ci : 9 + 3 * ci]
                if samp != 0x11:
                    raise NotImplementedError("subsampled JPEG chroma")
                comps.append((cid, tqi))
            sof = (h, w, nc)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError("non-baseline JPEG frame")
        elif marker == 0xDD:  # DRI
            (ri,) = struct.unpack(">H", seg[:2])
            if ri:
                raise NotImplementedError("JPEG restart intervals")
        elif marker == 0xDA:  # SOS
            if sof is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan = []
            for ci in range(ns):
                cs, tds = seg[1 + 2 * ci], seg[2 + 2 * ci]
                scan.append((cs, tds >> 4, tds & 0x0F))
            pos = pos + 2 + seglen
            break
        pos += 2 + seglen

    h, w, nc = sof
    if ns != nc:
        raise NotImplementedError("multi-scan JPEG")
    h8, w8 = -(-h // 8) * 8, -(-w // 8) * 8
    n_mcus = (h8 // 8) * (w8 // 8)
    D = _dct_matrix()
    reader = _JpegBitReader(b, pos)
    pred = [0] * nc
    coefs = [np.zeros((n_mcus, 64), np.int64) for _ in range(nc)]
    comp_q = []
    for ci in range(nc):
        tqi = comps[ci][1]
        if tqi not in qt:
            raise ValueError("JPEG missing quant table")
        comp_q.append(qt[tqi])
    for n in range(n_mcus):
        for ci in range(nc):
            _cs, td, ta = scan[ci]
            dct = huff.get((0, td))
            act = huff.get((1, ta))
            if dct is None or act is None:
                raise ValueError("JPEG missing Huffman table")
            s = reader.huffman(dct)
            diff = 0
            if s:
                v = reader.bits(s)
                diff = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
            pred[ci] += diff
            blk = coefs[ci][n]
            blk[0] = pred[ci]
            k = 1
            while k < 64:
                sym = reader.huffman(act)
                if sym == 0x00:  # EOB
                    break
                run, s = sym >> 4, sym & 0x0F
                if s == 0:
                    if run != 15:
                        raise ValueError("invalid JPEG AC symbol")
                    k += 16  # ZRL
                    continue
                k += run
                if k > 63:
                    raise ValueError("JPEG AC run overflow")
                v = reader.bits(s)
                blk[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                k += 1

    planes = []
    inv = np.empty(64, np.int64)
    inv[_JPEG_ZIGZAG] = np.arange(64)
    for ci in range(nc):
        deq = (coefs[ci][:, inv].reshape(-1, 8, 8)
               * comp_q[ci][None, :, :]).astype(np.float64)
        spatial = np.matmul(D.T, np.matmul(deq, D)) + 128.0
        grid = (
            spatial.reshape(h8 // 8, w8 // 8, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(h8, w8)
        )
        planes.append(grid[:h, :w])
    if nc == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    if nc == 3:
        y, cb, cr = planes
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        bl = y + 1.772 * (cb - 128.0)
        rgb = np.stack([r, g, bl], axis=-1)
        return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    raise NotImplementedError(f"JPEG with {nc} components")


_JPEG_W = 24  # bytes per row -> 192-px-wide image after 8x block upsample


def _x71_rows(doc_id: int, b: bytes):
    """Render the bytes as a byte grid (width _JPEG_W, space-padded
    final row), upsample each byte to a constant 8x8 block (so every
    block's spectrum is DC-only and the all-ones-quant codec is EXACTLY
    invertible), ENCODE to a real baseline JPEG, DECODE it back, then
    (a) count pixel mismatches against the block expansion (the oracle
    asserts 0) and (b) digest the block-mean downsample of the decoded
    pixels, which equals the padded source bytes' digest iff the whole
    Huffman/DCT round trip reconstructed every block."""
    img = _blocks_up(_grid(b, _JPEG_W))
    px = decode_jpeg(encode_jpeg(img))
    yield (
        doc_id,
        int(px.shape[1]),
        int(px.shape[0]),
        int(px.size),
        int((px != img).sum()),
        hashlib.sha256(_blocks_down(px).tobytes()).hexdigest(),
    )


jpeg_roundtrip_features = payload_worker(
    _x71_rows,
    "doc_id long, width int, height int, n_px long, n_mismatch int, "
    "pixel_sha string",
)


@query(
    "x71_jpeg_decode",
    oracle=f"""
    SELECT doc_id,
           {_JPEG_W * 8} AS width,
           CAST(8 * greatest(1, ceil(octet_length(encode(text))
                / {_JPEG_W}.0)) AS INT) AS height,
           CAST({_JPEG_W * 64} * greatest(1,
                ceil(octet_length(encode(text)) / {_JPEG_W}.0))
                AS BIGINT) AS n_px,
           0 AS n_mismatch,
           sha256(rpad(text,
                       CAST({_JPEG_W} * greatest(1,
                            ceil(octet_length(encode(text)) / {_JPEG_W}.0))
                            AS INT), ' ')) AS pixel_sha
    FROM documents
    """,
)
def x71_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x71: REAL lossy-format decode: documents render to genuine
    baseline sequential JPEGs (Annex-K Huffman tables, byte stuffing,
    DC prediction, all-ones quant) and the stdlib decoder (marker walk
    + canonical Huffman + dequant + IDCT) recovers the pixel matrix;
    block-constant inputs make the lossy codec exactly invertible, so
    the oracle states both n_mismatch = 0 and the pixel digest straight
    from the text (fixture text is ASCII, so rpad's char padding is
    byte padding, the x58/x70 contract)."""
    return document_features(spark, sf_dir, jpeg_roundtrip_features)


# --- x76: REAL Motion-JPEG video decode (AVI container + x71 JPEG frames) -------
# Motion-JPEG is the x70 AVI container carrying one complete x71
# baseline JPEG per frame chunk: the two oracle-checked codecs composed
# through encode_avi/decode_avi's 'MJPG' arm.
_MJPEG_BPF = 16  # bytes per frame -> one (8, 128) gray frame after 8x blocks


def _x76_rows(doc_id: int, b: bytes):
    """The bytes become 16-byte frames, every byte upsampled to a
    constant 8x8 block (the x71 exactness condition: DC-only spectra
    make the lossy JPEG round trip exact), encoded into a genuine MJPG
    AVI and decoded back through the container walk + per-frame
    Huffman/IDCT.  The block-mean downsamples of the decoded frames are
    concatenated and digested, equal to the padded source bytes' digest
    iff EVERY frame of the whole video round-tripped exactly."""
    frames = [_blocks_up(row[None, :]) for row in _grid(b, _MJPEG_BPF)]
    _w, _h, fps, dec = decode_video(
        encode_avi(frames, w=8 * _MJPEG_BPF, h=8, codec="mjpg")
    )
    n_mismatch = sum(int((d != f).sum()) for d, f in zip(dec, frames))
    downs = b"".join(_blocks_down(d).tobytes() for d in dec)
    yield (
        doc_id,
        len(dec),
        int(fps),
        int(n_mismatch),
        hashlib.sha256(downs).hexdigest(),
    )


mjpeg_roundtrip_features = payload_worker(
    _x76_rows, "doc_id long, n_frames int, fps int, n_mismatch int, video_sha string"
)


@query(
    "x76_mjpeg_decode",
    oracle=f"""
    SELECT doc_id,
           CAST(greatest(1, ceil(octet_length(encode(text))
                / {_MJPEG_BPF}.0)) AS INT) AS n_frames,
           {_AVI_FPS} AS fps,
           0 AS n_mismatch,
           sha256(rpad(text,
                       CAST({_MJPEG_BPF} * greatest(1,
                            ceil(octet_length(encode(text))
                                 / {_MJPEG_BPF}.0)) AS INT),
                       ' ')) AS video_sha
    FROM documents
    """,
)
def x76_mjpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x76: REAL compressed-VIDEO decode: documents render to genuine
    Motion-JPEG AVIs (x70's RIFF container, one complete x71 baseline
    JPEG per '00dc' chunk) and decode_video recovers every frame
    through the real Huffman/IDCT path; block-constant frames make the
    lossy per-frame codec exactly invertible, so the oracle states
    n_mismatch = 0 and the whole-video digest straight from the text
    (ASCII fixture: rpad char padding == byte padding)."""
    return document_features(spark, sf_dir, mjpeg_roundtrip_features)


# --- x87: REAL image resize through the codec path ------------------------------
# The resize stage of a production CV pipeline, REAL end to end: the
# document renders to a genuine PNG (x58's path), resize_image decodes
# it with the real codec, nearest-neighbor-resamples with integer index
# math, re-encodes as PNG, and the worker decodes THAT to digest the
# resized pixels.  The oracle re-derives the identical digest from the
# text side: out(i,j) = padded[((i*H) div 16)*W + ((j*W) div 16)] —
# pure integer index selection, so both engines assemble the same 256
# bytes.  A failure anywhere in decode -> resample -> encode -> decode
# breaks the digest, so the key pins the whole codec composition.
_X87_OUT = 16  # resized to 16x16


def _x87_rows(doc_id: int, b: bytes):
    small_png = resize_image(encode_png(_grid(b, _PNG_W)), _X87_OUT, _X87_OUT)
    px = decode_image(small_png)
    yield (
        doc_id,
        int(px.shape[1]),
        int(px.shape[0]),
        hashlib.sha256(px.tobytes()).hexdigest(),
    )


resize_roundtrip_features = payload_worker(
    _x87_rows, "doc_id long, out_w int, out_h int, resized_sha string"
)


@query(
    "x87_resize_image",
    # ORACLE ASSUMPTION: the height is derived from BYTES
    # (octet_length(encode(text))) but the padding/indexing below uses
    # CHARACTER-based rpad/substr, while the Spark worker indexes the
    # raw UTF-8 bytes via numpy.  The two agree only while document
    # text is pure ASCII (true for the synthetic fixture vocabulary —
    # gen_sf.py emits ASCII-only tokens).  If the fixture ever gains
    # non-ASCII text, restate the oracle fully in bytes (encode() +
    # blob slicing) instead of rpad/substr.
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             CAST(greatest(1, ceil(octet_length(encode(text))
                  / {_PNG_W}.0)) AS INT) AS h
      FROM documents),
    padded AS (
      SELECT doc_id, h,
             rpad(text, h * {_PNG_W}, ' ') AS p
      FROM base)
    SELECT doc_id,
           {_X87_OUT} AS out_w,
           {_X87_OUT} AS out_h,
           sha256(list_aggregate(list_transform(
             range(0, {_X87_OUT * _X87_OUT}),
             q -> substr(p,
                    ((q // {_X87_OUT}) * h // {_X87_OUT}) * {_PNG_W}
                    + ((q % {_X87_OUT}) * {_PNG_W} // {_X87_OUT}) + 1,
                    1)), 'string_agg', '')) AS resized_sha
    FROM padded
    """,
)
def x87_resize_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    return document_features(spark, sf_dir, resize_roundtrip_features)


# --- x88: perceptual image near-dup (pHash over the real decode path) --------
#
# Dedup previously saw only BYTES (x04*/x59 hash text); x88 dedups by
# PIXELS: each document's image is decoded with the real codec stack,
# nearest-neighbor-resampled to 32x32, DCT'd (the same batched-matmul
# DCT style as x71's JPEG codec, multimodal.py:1552 — here with an
# integer-quantized basis so both engines compute bit-identical
# coefficients), and reduced to a 63-bit perceptual hash: the 8x8
# low-frequency block minus the DC term, each AC coefficient compared
# against the AC mean (stated multiplicatively, 63*z > sum, so no
# division ever happens).  Resize-invariance comes from the 32x32
# normalization: an upscaled duplicate NN-resamples to (nearly) the
# same 32x32 grid, so its hash sits within a few bits of the original
# (pytest-pinned with a planted x87-resized duplicate).
#
# Banding (the x04d pattern, dedup.py:584): the 63-bit hash splits into
# 9 contiguous 7-bit bands; docs sharing any band value become
# candidates via a bucket self-join, then candidates are verified at
# hamming <= 8.  The parameters are NOT independent: with 9 bands, a
# pair within hamming 8 has <= 8 differing bits spread over 9 bands, so
# BY PIGEONHOLE at least one band is identical — the banded plan is
# EXACT-COMPLETE at the verify threshold, and the brute-force O(n^2)
# oracle below provably equals the sub-quadratic Spark plan (no
# recall monitor needed, unlike x04d's Jaccard estimate).
#
# Scale: hashing is one row-local pass with no shuffle; banding
# shuffles 9 rows of (7-bit key, 8-byte hash) per doc — ~100 B/doc,
# corpus-sized but tiny; the bucket self-join is the quadratic point
# (the fixture's buckets are dup-cluster sized).
# Reference parity: AJ2O/fanstats-producer ships no image
# pipeline at all (reference/src/main.py is a text crawler) — x88 is
# part of the beyond-reference training-data surface the brief asks
# for.

_X88_BANDS = 9  # 9 bands x 7 bits = 63; pigeonhole-exact at hamming <= 8
_X88_BAND_BITS = 7
_X88_HAMMING = 8


def _phash_dct_table() -> list[list[int]]:
    """8x32 DCT-II basis rows u=0..7 over a 32-sample axis, quantized
    to integers in units of 2^-14.  floor(x*16384+0.5) is exact and
    deterministic (no cos() value lands on a .5 boundary: the angle
    pi*(2r+1)*u/64 hits a rational cosine only at u=0).  The SAME table
    is embedded as a literal in the DuckDB oracle, so cross-engine
    parity never depends on libm."""
    return [
        [
            int(math.floor(math.cos(math.pi * (2 * r + 1) * u / 64) * 16384 + 0.5))
            for r in range(32)
        ]
        for u in range(8)
    ]


#: lazily-built np.int64 DCT basis — phash64 runs once per document in
#: the x88 scan, so the 256-cos table must not rebuild per call
_PHASH_C = None


def phash64(px32) -> int:
    """63-bit perceptual hash of a 32x32 uint8 pixel grid.

    Z = C @ X @ C^T in int64 (C = the quantized 8x32 DCT basis; integer
    matmul is associative, so ANY evaluation order — numpy batched
    matmul here, two nested list_transform stages in the oracle — gives
    identical coefficients).  Bit k-1 (k = u*8+v, k=1..63) is set iff
    63*Z[u,v] > sum(AC coefficients): the mean threshold stated
    multiplicatively over integers, division-free and exact."""
    global _PHASH_C
    if _PHASH_C is None:
        _PHASH_C = np.asarray(_phash_dct_table(), dtype=np.int64)
    c = _PHASH_C
    x = np.asarray(px32, dtype=np.int64)
    if x.shape != (32, 32):
        raise ValueError(f"phash64 expects 32x32, got {x.shape}")
    z = (c @ x @ c.T).ravel()  # k = u*8 + v, row-major
    s = int(z[1:].sum())
    h = 0
    for k in range(1, 64):
        if 63 * int(z[k]) > s:
            h |= 1 << (k - 1)
    return h


def phash_image(payload: bytes) -> int:
    """pHash of an encoded image: REAL decode (PNG/GIF/JPEG via
    decode_image), grayscale by first channel for color images,
    nearest-neighbor resample to 32x32 with resize_image's exact
    integer index math (out(i,j) = src((i*H) div 32, (j*W) div 32)),
    then phash64.  Raises what decode_image raises — batch callers
    treat undecodable blobs as fallback-able."""
    arr = decode_image(payload)
    if arr.ndim == 3:
        arr = arr[:, :, 0]
    hh, ww = arr.shape
    rows = (np.arange(32) * hh) // 32
    cols = (np.arange(32) * ww) // 32
    return phash64(arr[rows][:, cols])


def _x88_rows(doc_id: int, b: bytes):
    """The x58 grayscale strip pushed through the REAL PNG
    encode->decode codec pair, then perceptually hashed."""
    yield doc_id, phash_image(encode_png(_grid(b, _PNG_W)))


phash_features = payload_worker(_x88_rows, "doc_id long, phash long")


def _phash_band_val(col, b: int):
    """Band `b`'s 7-bit value of a 63-bit fingerprint — the ONE
    definition of the LSH band layout, shared by the batch pair
    expansion, the streaming prefix, and the tests (a drifted copy
    would silently desynchronize batch and online banding)."""
    return F.shiftright(col, b * _X88_BAND_BITS).bitwiseAND(
        F.lit((1 << _X88_BAND_BITS) - 1)
    )


def phash_near_dup_pairs(hashes: DataFrame) -> DataFrame:
    """Banded near-dup pair expansion over a (doc_id, phash) frame:
    9x7-bit LSH bands -> bucket self-join -> hamming <= 8 verify.
    Exact-complete by pigeonhole (see module comment).  Pure built-in
    expressions; the only Python in x88 is the codec worker."""
    # Materialize the hash frame ONCE before the bucket self-join
    # (optimization r13, guide §3.3/§4.1): both join sides derive from
    # `hashes`, whose upstream in every batch caller is the render+
    # codec+pHash mapInPandas worker — an opaque subtree Spark cannot
    # share across the two sides (their projections differ, so even
    # exchange reuse never fires; the before-plan shows TWO MapInPandas
    # nodes).  One eager checkpoint runs the Python worker once and
    # both sides read the 16-B/doc materialized frame; at 100 TB that
    # frame is exactly the "decide on small rows" proxy of guide §8.
    hashes = disk_checkpoint(hashes)
    banded = hashes.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _phash_band_val(F.col("phash"), b).alias("val"),
                    )
                    for b in range(_X88_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "phash", "bk.band", "bk.val")
    left = banded.select(
        "band",
        "val",
        F.col("doc_id").alias("id_a"),
        F.col("phash").alias("h_a"),
    )
    right = banded.select(
        "band",
        "val",
        F.col("doc_id").alias("id_b"),
        F.col("phash").alias("h_b"),
    )
    # Hamming-verify BEFORE the cross-band dedupe (sf10 probe finding,
    # round 13): the dedupe is a shuffle over every banding candidate,
    # and on a near-uniform hash population the 7-bit band buckets hold
    # ~n/128 docs each — ~8.7e9 candidate rows at 500k docs, whose
    # groupBy spill filled 78 GB of disk and killed the job.  The
    # hamming predicate is computable per joined row (both hashes are
    # present), so filtering first is output-IDENTICAL and only true
    # near-dup pairs (~1e-3 of candidates, measured) reach the shuffle;
    # the flood streams map-side through the verify, materialized
    # nowhere.
    return (
        left.join(right, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))),
        )
        .filter(F.col("hamming") <= _X88_HAMMING)
        .groupBy("id_a", "id_b")
        .agg(F.first("hamming").alias("hamming"))
    )


def _phash_hash_ctes() -> str:
    """The DuckDB CTE chain computing every document's pHash from the
    text side (x58's byte->pixel model, x87's resize index math, the
    SAME integer DCT table as a literal) — ends in `hashes(doc_id, ph)`.
    Shared by the x88 batch oracle and the s28 streaming oracle so the
    two engines' hash definitions can never drift apart."""
    tab = _phash_dct_table()
    c_flat = ", ".join(str(v) for u in range(8) for v in tab[u])
    return f"""
    consts AS (SELECT [{c_flat}] AS C),
    base AS (
      SELECT doc_id,
             CAST(greatest(1, ceil(octet_length(encode(text)) / {_PNG_W}.0))
                  AS INT) AS h,
             rpad(text, CAST({_PNG_W} * greatest(1,
                  ceil(octet_length(encode(text)) / {_PNG_W}.0)) AS INT),
                  ' ') AS p
      FROM documents),
    -- 32x32 NN resample straight off the padded byte strip:
    -- out(r,c) = padded[((r*h) div 32)*32 + c]  (source width is 32,
    -- so the column map is identity); ASCII fixture => substr/ascii
    -- are byte-exact (same documented assumption as x87/x58)
    px AS (
      SELECT doc_id,
             list_transform(range(0, 1024),
               q -> CAST(ascii(substr(p,
                      CAST(((q // 32) * h // 32) * {_PNG_W}
                           + (q % 32) + 1 AS INT), 1)) AS BIGINT)) AS g
      FROM base),
    -- stage 1: Y[v*32+r] = sum_c g[r*32+c] * C[v*32+c]   (int64)
    -- (consts rides along via CROSS JOIN — DuckDB forbids subqueries
    -- inside lambda bodies, but plain columns are fine)
    st1 AS (
      SELECT doc_id, C,
             list_transform(range(0, 256),
               i -> list_sum(list_transform(range(0, 32),
                 cc -> g[(i % 32) * 32 + cc + 1]
                       * C[(i // 32) * 32 + cc + 1])))
               AS y
      FROM px, consts),
    -- stage 2: Z[u*8+v] = sum_r C[u*32+r] * Y[v*32+r]
    st2 AS (
      SELECT doc_id,
             list_transform(range(0, 64),
               k -> list_sum(list_transform(range(0, 32),
                 r -> C[(k // 8) * 32 + r + 1]
                      * y[(k % 8) * 32 + r + 1]))) AS z
      FROM st1),
    hashes AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(1, 64),
               k -> CASE WHEN 63 * z[k + 1]
                              > list_sum(z) - z[1]
                         THEN 1 << (k - 1) ELSE 0 END)) AS BIGINT) AS ph
      FROM st2)"""


def _phash_oracle() -> str:
    """Brute-force DuckDB mirror of x88: the shared hash CTEs, then
    join all pairs at hamming <= 8.  O(n^2) on the pair side — the
    ORACLE is quadratic, the engine is banded; pigeonhole makes them
    equal."""
    return f"""
    WITH {_phash_hash_ctes()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ph, b.ph)) <= {_X88_HAMMING}
    """


def streaming_phash_band_keys(docs: DataFrame, features=None) -> DataFrame:
    """s28/s29's stateless prefix: per-row 63-bit fingerprint +
    exploded LSH band keys over a (doc_id, text, ...) stream, the
    x88/x90 hash/banding expressed as row-local operators so it runs
    unchanged on a streaming plan (mapInPandas and explode are both
    stateless projections).  `features` is the fingerprint worker
    (default: phash_features, the image codec path; audio_fp_features
    is the audio arm; any payload_worker whose schema is
    "doc_id long, phash long" with non-negative 63-bit values plugs
    in).  Output: (doc_id, phash, band_hash) with band_hash = band *
    128 + band value (one long key, the streaming_band_keys
    convention), 9 rows per doc.  Works on batch frames too; the
    slicing-invariance pytest uses the same function both ways."""
    features = features or phash_features
    payloads = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    hashes = payloads.mapInPandas(features, features.schema)
    return hashes.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    (
                        _phash_band_val(F.col("phash"), b)
                        + F.lit(b * (1 << _X88_BAND_BITS))
                    ).cast("long")
                    for b in range(_X88_BANDS)
                ]
            )
        ).alias("band_hash"),
    )


@query("x88_image_neardup", oracle=_phash_oracle())
def x88_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x88: perceptual image near-duplicate detection, the multimodal
    dedup arm.  Documents render to real PNGs, hash through the real
    decode path (phash_features), and pair up through the banded LSH
    self-join (phash_near_dup_pairs).  Output: (id_a, id_b, hamming)
    for every pair of perceptually-near images."""
    return phash_near_dup_pairs(document_features(spark, sf_dir, phash_features))


# --- x90: perceptual AUDIO near-dup (energy-delta fingerprint) ----------------
#
# The audio arm of perceptual dedup, next to text (x04*/x59) and image
# (x88).  Fingerprint = the sign pattern of successive segment
# ENERGIES (the time-domain simplification of the Haitsma-Kalker
# energy-difference fingerprint): the decoded PCM splits into 64 EQUAL
# segments (np.array_split — the x07b boundary convention, already
# SQL-mirrored), bit k is set iff energy[k+1] > energy[k].  63 bits,
# non-negative int64 — exactly the shape phash_near_dup_pairs expects,
# so the banded LSH self-join (9×7-bit bands, hamming <= 8,
# pigeonhole-EXACT) is SHARED with the image arm, and the brute-force
# O(n²) oracle equals the banded plan by the same argument.
#
# Invariances (by construction, pytest-pinned): volume scaling
# preserves every strict energy inequality (energies scale together),
# and the equal-segment split length-normalizes, so a resampled/
# stretched duplicate lands near the original.  NOT shift-invariant
# (no overlapping frames) — a clipped prefix is a different signal
# here; production would add an overlapped-frame variant of the same
# pipeline.  All-integer arithmetic end to end: energies are exact
# int64 sums of (16-bit sample)², so both engines compute identical
# fingerprints with no quantization step at all.

_X90_SEGS = 64


def audio_fingerprint(samples) -> int:
    """63-bit energy-delta fingerprint of an int16 PCM array: 64 equal
    np.array_split segments, exact int64 energies (empty segment = 0),
    bit k-1 set iff energy[k] > energy[k-1]."""
    s = np.asarray(samples, dtype=np.int64)
    energies = [
        int((seg * seg).sum()) if seg.size else 0
        for seg in np.array_split(s, _X90_SEGS)
    ]
    fp = 0
    for k in range(1, _X90_SEGS):
        if energies[k] > energies[k - 1]:
            fp |= 1 << (k - 1)
    return fp


def _x90_rows(doc_id: int, b: bytes):
    """The payload's PCM (`_pcm`, the x64 convention) round-tripped
    through the REAL WAV codec pair, then fingerprinted."""
    _rate, _ch, _w, dec = decode_wav(encode_wav(_pcm(b)))
    yield doc_id, audio_fingerprint(dec)


audio_fp_features = payload_worker(_x90_rows, "doc_id long, phash long")


def _x90_fp_ctes() -> str:
    """The DuckDB CTE chain re-deriving each document's audio
    fingerprint from the text bytes — ends in `fps(doc_id, fp)`.
    Shared by the x90 batch oracle and the s29 streaming oracle (the
    _phash_hash_ctes convention: one hash definition per modality)."""
    return f"""
    t AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS l
      FROM documents),
    pos AS (
      SELECT doc_id, hx, l, unnest(range(l)) AS p FROM t),
    smp AS (
      -- np.array_split boundaries at 64 segments: (l%64) leading
      -- segments of size l//64+1, the rest l//64 (ELSE unreachable
      -- when l//64 = 0 — every p then satisfies the THEN predicate)
      SELECT doc_id,
             CASE WHEN p < (l % {_X90_SEGS}) * (l // {_X90_SEGS} + 1)
                  THEN p // (l // {_X90_SEGS} + 1)
                  ELSE (l % {_X90_SEGS})
                       + (p - (l % {_X90_SEGS}) * (l // {_X90_SEGS} + 1))
                         // (l // {_X90_SEGS})
             END AS seg,
             CAST((CAST(('0x' || substring(hx, CAST(2 * p + 1 AS INT), 2))
                        AS INT) - 128) * 256 AS BIGINT) AS s
      FROM pos),
    seg_e AS (
      SELECT doc_id, seg, SUM(s * s) AS e FROM smp GROUP BY 1, 2),
    grid AS (
      SELECT d.doc_id, g.k, COALESCE(seg_e.e, 0) AS e
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN (SELECT unnest(range({_X90_SEGS})) AS k) g
      LEFT JOIN seg_e ON seg_e.doc_id = d.doc_id AND seg_e.seg = g.k),
    fps AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(1, {_X90_SEGS}),
               k -> CASE WHEN le[k + 1] > le[k]
                         THEN 1 << (k - 1) ELSE 0 END)) AS BIGINT) AS fp
      FROM (SELECT doc_id, list(e ORDER BY k) AS le
            FROM grid GROUP BY 1))"""


def _x90_oracle() -> str:
    """Brute-force DuckDB mirror of x90: the shared fingerprint CTEs,
    then join all pairs at hamming <= 8 — provably equal to the banded
    engine plan (pigeonhole, see x88)."""
    return f"""
    WITH {_x90_fp_ctes()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= {_X88_HAMMING}
    """


@query("x90_audio_neardup", oracle=_x90_oracle())
def x90_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x90: perceptual audio near-duplicate detection: documents
    synthesize to PCM, roundtrip the real WAV codec, fingerprint by
    energy-delta signs, and pair up through the SAME banded LSH
    self-join as the image arm (phash_near_dup_pairs)."""
    return phash_near_dup_pairs(document_features(spark, sf_dir, audio_fp_features))


# --- x96: perceptual image CLUSTER dedup (pairs -> components -> keep best) ------
# x88 emits near-dup PAIRS; a production image-dedup pipeline needs the
# same last mile as text (x04e/x52/x59): transitive closure into
# clusters, then ONE kept representative per cluster.  This key is that
# composition over the perceptual modality — every stage is already-
# registered machinery (phash_near_dup_pairs -> dedup.connected_
# components -> dedup.keep_best), so what it pins is the END-TO-END
# image dedup decision: which images a 100 TB multimodal corpus keeps.
# The oracle is the pHash CTE chain, then the same closure and keep
# rule as x59 (dedup._CLOSURE_SQL -> min-label clusters ->
# dedup._KEEP_BEST_SQL), so scripts/scale_closure_check.py's staged
# iterative closure covers it at sf1 where the recursive CTE cannot run
# (CLOSURE_KEYS there includes x96).


def _x96_oracle() -> str:
    return f"""
    WITH RECURSIVE {_phash_hash_ctes()},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.ph, b.ph)) <= {_X88_HAMMING}),
    {_CLOSURE_SQL},
    cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
    {_KEEP_BEST_SQL}
    """


@query("x96_image_cluster_dedup", oracle=_x96_oracle())
def x96_image_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x96: end-to-end perceptual image dedup: pHash banding (x88)
    proposes pairs, connected components closes them into clusters
    (min-label propagation with the size-gated union-find fast path),
    keep_best picks one representative per cluster by the integer ttr
    quality rule.  The image twin of x52/x59's production last mile."""
    pairs = phash_near_dup_pairs(document_features(spark, sf_dir, phash_features))
    return keep_best(load(spark, sf_dir, "documents"), connected_components(pairs))
