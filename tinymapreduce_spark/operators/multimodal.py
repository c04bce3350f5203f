"""Multimodal column plumbing — binary payloads with typed metadata.

The container has no codec LIBRARIES (PIL/ffmpeg); the compressed
rung is covered by our own pure-Python baseline JPEG codec
(``functions/jpegcodec.py`` — Huffman entropy coding, DC prediction,
zigzag, dequant, fixed-point integer IDCT; exercised end-to-end by
``jpeg_decode_stats`` below), while PNG/MP3-class codecs remain out of
scope. Trivial container formats need no library, and ``decode_image``
/ ``decode_wav`` below are REAL pure-Python decoders: uncompressed
24-bit BMP (file+info header parse, bottom-up row order, 4-byte row
padding, top-down negative-height variant), binary PPM (P6 with
whitespace/comment-tolerant header), and RIFF/WAVE PCM16 (proper chunk
walking — unknown chunks are skipped by their declared size). The
``image_decode_stats`` / ``audio_decode_stats`` queries encode
synthesized payloads into real BinaryType columns and decode them back
through these parsers inside Arrow-batched kernels; their oracles
re-derive the pixel/sample statistics from the generation formula
independently, so an encoder OR decoder bug (padding, offsets, row
order, endianness, sign) breaks parity. ``fake_features`` remains the
stand-in only where a compressed-codec call would sit.

At 100 TB the payload column dominates IO; the plans here only project
(doc_id, payload) into the UDF — column pruning keeps text/metadata out
of the Arrow channel.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Pandas UDFs here must survive executors that can't import this package
# (driver may load us via sys.path only) — pickle this module by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

from tinymapreduce_spark.pyworker import prime_worker
from tinymapreduce_spark.sources.loaders import documents_for_cpu


def encode_bmp(width: int, height: int, pixels: list[list[tuple[int, int, int]]]) -> bytes:
    """Uncompressed 24-bit BI_RGB BMP writer. ``pixels[y][x]`` is
    (b, g, r) in image orientation (row 0 = top); storage is bottom-up
    with rows padded to 4 bytes — the format's two classic traps."""
    import struct

    row_bytes = width * 3
    pad = (-row_bytes) % 4
    body = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        for x in range(width):
            body.extend(pixels[y][x])
        body.extend(b"\x00" * pad)
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return bytes(header) + bytes(body)


def decode_image(payload: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Real pure-Python image decode for the two trivial formats:
    uncompressed 24-bit BMP and binary PPM (P6). Returns
    ``(width, height, pixels)`` with ``pixels[y][x] = (b, g, r)`` in
    image orientation. Raises ValueError for anything else (compressed
    codecs need libraries this container doesn't have — see module
    docstring)."""
    import struct

    if payload[:2] == b"BM":
        data_off = struct.unpack_from("<I", payload, 10)[0]
        bi_size, width, height = struct.unpack_from("<Iii", payload, 14)
        planes, bitcount = struct.unpack_from("<HH", payload, 26)
        compression = struct.unpack_from("<I", payload, 30)[0]
        if bitcount != 24 or compression != 0:
            raise ValueError("only uncompressed 24-bit BMP is supported")
        top_down = height < 0
        height = abs(height)
        row_bytes = width * 3
        stride = row_bytes + ((-row_bytes) % 4)
        rows = []
        for r in range(height):
            off = data_off + r * stride
            raw = payload[off : off + row_bytes]
            rows.append([tuple(raw[3 * x : 3 * x + 3]) for x in range(width)])
        if not top_down:
            rows.reverse()  # bottom-up storage -> image orientation
        return width, height, rows
    if payload[:2] == b"P6":
        # header: magic, width, height, maxval — whitespace separated,
        # '#' comments allowed between tokens
        pos, tokens = 2, []
        while len(tokens) < 3:
            while pos < len(payload) and payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":
                while payload[pos : pos + 1] not in (b"\n", b""):
                    pos += 1
                continue
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            tokens.append(int(payload[start:pos]))
        pos += 1  # single whitespace after maxval
        width, height, maxval = tokens
        if maxval > 255:
            raise ValueError("only 8-bit PPM is supported")
        rows = []
        for y in range(height):
            off = pos + y * width * 3
            raw = payload[off : off + width * 3]
            # PPM stores RGB; normalize to the (b, g, r) convention
            rows.append(
                [
                    (raw[3 * x + 2], raw[3 * x + 1], raw[3 * x])
                    for x in range(width)
                ]
            )
        return width, height, rows
    raise ValueError("unsupported image format (BMP/P6 PPM only)")


def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """RIFF/WAVE PCM16-mono writer — includes a junk LIST chunk before
    'data' so decoders must really walk chunks by declared size."""
    import struct

    data = b"".join(struct.pack("<h", int(s)) for s in samples)
    junk = b"LIST" + struct.pack("<I", 4) + b"INFO"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + fmt + junk + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def ulaw_expand(c: int) -> int:
    """G.711 µ-law byte → linear PCM (the CCITT reference expansion:
    invert, rebuild the biased mantissa, shift by the segment)."""
    u = (~c) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def alaw_expand(c: int) -> int:
    """G.711 A-law byte → linear PCM (xor 0x55, segment 0 is linear,
    higher segments shift the 0x108-biased mantissa; sign bit 1 means
    POSITIVE in A-law — the classic trap)."""
    a = c ^ 0x55
    seg = (a >> 4) & 0x07
    t = (a & 0x0F) << 4
    t = (t + 8) if seg == 0 else ((t + 0x108) << (seg - 1))
    return t if (a & 0x80) else -t


def encode_wav_g711(codes, law: str, sample_rate: int = 8000) -> bytes:
    """RIFF/WAVE writer for G.711 streams: format code 7 (µ-law) or 6
    (A-law), 8 bits per sample, the raw code bytes as 'data' — the
    telephony WAV shape. Keeps the junk LIST chunk so decoders must
    walk chunks."""
    import struct

    fmt_code = 7 if law == "ulaw" else 6
    data = bytes(codes)
    junk = b"LIST" + struct.pack("<I", 4) + b"INFO"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, fmt_code, 1, sample_rate, sample_rate, 1, 8
    )
    body = b"WAVE" + fmt + junk + b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        body += b"\x00"  # RIFF word alignment pad
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes):
    """Real pure-Python RIFF/WAVE decode: verify the RIFF container,
    then walk chunks by declared size — skipping unknown ones — to find
    'fmt ' and 'data'. Supports mono PCM16 (format 1) and the G.711
    telephony codecs µ-law (7) / A-law (6), expanded to linear PCM.
    Returns ``(sample_rate, samples)`` with samples as signed ints."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, sample_rate, data, audio_fmt = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if cid == b"fmt ":
            audio_fmt, channels, sample_rate = struct.unpack_from(
                "<HHI", payload, pos + 8
            )
            if audio_fmt not in (1, 6, 7) or channels != 1:
                raise ValueError("only mono PCM16 / G.711 u-law / A-law supported")
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size % 2)  # RIFF chunks are word-aligned
    if sample_rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if audio_fmt == 7:
        return sample_rate, [ulaw_expand(b) for b in data]
    if audio_fmt == 6:
        return sample_rate, [alaw_expand(b) for b in data]
    n = len(data) // 2
    return sample_rate, list(struct.unpack(f"<{n}h", data[: 2 * n]))


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata struct to each
    document (payload = utf-8 bytes of the text, standing in for an
    image/audio blob)."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length("text").alias("n_bytes_decl"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def fake_features(payload: bytes) -> tuple[int, str]:
    """Deterministic stand-in for decode+feature-extract: byte length and
    hex of the first 8 bytes. Same batch shape a real decoder would use."""
    return len(payload), payload[:8].hex()


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas receives pandas batches whose 'payload' cells are Python
    bytes — exactly how a real decoder (PIL/ffmpeg) would consume them.
    """
    docs = documents_for_cpu(spark, sf_dir)
    payloads = with_payload(docs).select("doc_id", "payload")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            feats = [fake_features(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload_len": [f[0] for f in feats],
                    "header_hex": [f[1] for f in feats],
                }
            )

    return payloads.mapInPandas(extract, schema="doc_id long, payload_len long, header_hex string")


MULTIMODAL_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
       lower(substr(hex(encode(text)), 1, 16)) AS header_hex
FROM documents
"""

# --- resize (byte-stride downsample) -----------------------------------
# A real image resize is a codec call; the deterministic stand-in keeps
# every RESIZE_STRIDE-th byte, which exercises the identical Spark
# plumbing: binary in, smaller binary out, Arrow batches, stable schema.
RESIZE_STRIDE = 4


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Resize' each binary payload by keeping every 4th byte (the
    deterministic stand-in for a decoder+scaler — see ``decode_image``).
    Output proves content, not just shape: md5 of the resized bytes is
    oracle-checked, so the byte-level transform itself is verified."""
    import hashlib

    docs = documents_for_cpu(spark, sf_dir)
    payloads = with_payload(docs).select("doc_id", "payload")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            resized = [bytes(p)[::RESIZE_STRIDE] for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_len": [len(p) for p in pdf["payload"]],
                    "resized_len": [len(r) for r in resized],
                    "resized_md5": [hashlib.md5(r).hexdigest() for r in resized],
                }
            )

    return payloads.mapInPandas(
        resize, schema="doc_id long, orig_len long, resized_len long, resized_md5 string"
    )


# Text is pure ASCII in the fixtures, so char positions == byte positions
# and DuckDB can replicate the stride with a list comprehension.
MULTIMODAL_RESIZE_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS orig_len,
       CAST(length(array_to_string(
           [substr(text, i, 1) for i in range(1, length(text)+1, {RESIZE_STRIDE})], '')) AS BIGINT)
         AS resized_len,
       md5(array_to_string(
           [substr(text, i, 1) for i in range(1, length(text)+1, {RESIZE_STRIDE})], ''))
         AS resized_md5
FROM documents
"""

# --- frame sampling -----------------------------------------------------
# Video stand-in: the payload is a sequence of fixed-size frames; keep
# every FRAME_EVERY-th frame. Same batch shape as ffmpeg-style sampling.
FRAME_BYTES = 16
FRAME_EVERY = 4


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample every 4th 16-byte 'frame' from each binary payload via
    Arrow-batched mapInPandas; emits frame counts plus an md5 over the
    concatenated sampled frames so the exact sampled bytes are verified."""
    import hashlib

    docs = documents_for_cpu(spark, sf_dir)
    payloads = with_payload(docs).select("doc_id", "payload")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows = {"doc_id": pdf["doc_id"], "n_frames": [], "n_sampled": [], "sampled_md5": []}
            for p in pdf["payload"]:
                b = bytes(p)
                n_frames = (len(b) + FRAME_BYTES - 1) // FRAME_BYTES
                frames = [
                    b[FRAME_BYTES * i : FRAME_BYTES * (i + 1)]
                    for i in range(0, n_frames, FRAME_EVERY)
                ]
                rows["n_frames"].append(n_frames)
                rows["n_sampled"].append(len(frames))
                rows["sampled_md5"].append(hashlib.md5(b"".join(frames)).hexdigest())
            yield pd.DataFrame(rows)

    return payloads.mapInPandas(
        sample, schema="doc_id long, n_frames long, n_sampled long, sampled_md5 string"
    )


FRAME_SAMPLE_SQL = f"""
WITH f AS (
  SELECT doc_id,
         CAST(ceil(length(text) / {FRAME_BYTES}.0) AS BIGINT) AS n_frames,
         text
  FROM documents
)
SELECT doc_id,
       n_frames,
       CAST(ceil(n_frames / {FRAME_EVERY}.0) AS BIGINT) AS n_sampled,
       md5(array_to_string(
           [substr(text, 1 + {FRAME_BYTES}*i, {FRAME_BYTES})
            for i in range(0, CAST(n_frames AS INT), {FRAME_EVERY})], ''))
         AS sampled_md5
FROM f
"""

# --- audio energy windows ----------------------------------------------
# Audio stand-in: the payload is unsigned 8-bit PCM; per 256-sample
# window compute integer energy (sum of squared samples) and report the
# loudest window — the frame-level feature extraction (VAD, silence
# trimming, loudness normalization) every audio pipeline runs before
# transcription. Integer arithmetic end-to-end, so the oracle matches
# exactly — no float summation anywhere.
AUDIO_WINDOW = 256


def audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed energy over binary 'audio' payloads via Arrow-batched
    mapInPandas + numpy (the exact batch shape a real DSP kernel uses:
    frombuffer -> vectorized ops per batch, no per-sample Python).
    Emits per doc: window count, total energy, and the argmax window
    (ties to the earliest), all exact integers."""
    return audio_energy_df(documents_for_cpu(spark, sf_dir))


def audio_energy_df(docs: DataFrame) -> DataFrame:
    """Body over any ``(doc_id, text)`` frame — split out so tests can
    certify the zero-length-payload and non-ASCII parity edges on
    synthetic docs the generated testdata doesn't contain."""
    import numpy as np

    payloads = with_payload(docs).select("doc_id", "payload")

    def energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "n_windows": [],
                "total_energy": [],
                "peak_window": [],
                "peak_energy": [],
            }
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                samples = np.frombuffer(bytes(p), dtype=np.uint8).astype(np.int64)
                n_win = (len(samples) + AUDIO_WINDOW - 1) // AUDIO_WINDOW
                if n_win == 0:
                    # zero-length payload: no windows exist; emit no row,
                    # mirroring the oracle (no chars -> no group row).
                    continue
                sq = samples * samples
                wins = [
                    int(sq[AUDIO_WINDOW * i : AUDIO_WINDOW * (i + 1)].sum())
                    for i in range(n_win)
                ]
                peak = max(range(n_win), key=lambda i: (wins[i], -i))
                rows["doc_id"].append(doc_id)
                rows["n_windows"].append(n_win)
                rows["total_energy"].append(int(sq.sum()))
                rows["peak_window"].append(peak)
                rows["peak_energy"].append(wins[peak])
            yield pd.DataFrame(rows)

    return payloads.mapInPandas(
        energy,
        schema="doc_id long, n_windows long, total_energy long, peak_window long, peak_energy long",
    )


AUDIO_ENERGY_SQL = f"""
WITH payloads AS (
  -- UTF-8 BYTES of the text, hex-expanded: matches np.frombuffer over
  -- encode(text,'UTF-8') for ANY text, not just ASCII (a per-character
  -- ascii() oracle diverges on multi-byte code points).
  SELECT doc_id, hex(encode(text)) AS h FROM documents
), chars AS (
  SELECT doc_id, (t.i - 1) // {AUDIO_WINDOW} AS win,
         CAST('0x' || substr(h, 2 * t.i - 1, 2) AS INT) AS v
  FROM payloads,
       LATERAL (SELECT UNNEST(range(1, length(h) // 2 + 1)) AS i) t
), wins AS (
  SELECT doc_id, win, SUM(v * v) AS energy
  FROM chars GROUP BY 1, 2
), ranked AS (
  SELECT doc_id, win, energy,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY energy DESC, win ASC) AS rk
  FROM wins
), totals AS (
  SELECT doc_id, COUNT(*) AS n_windows, CAST(SUM(energy) AS BIGINT) AS total_energy
  FROM wins GROUP BY doc_id
)
SELECT t.doc_id, t.n_windows, t.total_energy,
       r.win AS peak_window, CAST(r.energy AS BIGINT) AS peak_energy
FROM totals t JOIN ranked r ON t.doc_id = r.doc_id AND r.rk = 1
"""


def image_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary METADATA parsing entirely JVM-side — the step that needs
    no codec and so needs no stub: a deterministic PNG-layout header
    (magic + IHDR length + 'IHDR' + big-endian u32 width/height derived
    from doc_id) is constructed as a real BinaryType column, then parsed
    back by offset arithmetic (substring on binary -> hex -> base-16
    conv). This is how a 100 TB image pipeline reads dimensions for
    filtering/bucketing WITHOUT decoding pixels: a few header bytes per
    blob, pure codegen, no Python.

    Width/height are synthesized (the corpus has no real images); the
    PARSING path — big-endian u32 extraction at PNG IHDR offsets 16/20 —
    is byte-for-byte the real one, and the oracle re-derives both the
    construction and the parse independently."""
    docs = documents_for_cpu(spark, sf_dir)
    width = (F.lit(100) + F.col("doc_id") % 512).cast("int")
    height = (F.lit(100) + (F.col("doc_id") * 7) % 512).cast("int")
    be_u32 = lambda c: F.unhex(F.lpad(F.hex(c), 8, "0"))  # noqa: E731
    payload = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A")),  # PNG magic
        F.unhex(F.lit("0000000D")),  # IHDR chunk length (13)
        F.encode(F.lit("IHDR"), "UTF-8"),
        be_u32(width),
        be_u32(height),
        F.unhex(F.lit("0806000000")),  # bit depth/color/etc
    )
    blobs = docs.select("doc_id", payload.alias("payload"))
    parse_u32 = lambda pos: F.conv(  # noqa: E731
        F.hex(F.expr(f"substring(payload, {pos}, 4)")), 16, 10
    ).cast("long")
    return blobs.select(
        "doc_id",
        (F.hex(F.expr("substring(payload, 1, 8)")) == "89504E470D0A1A0A").alias(
            "magic_ok"
        ),
        parse_u32(17).alias("width"),
        parse_u32(21).alias("height"),
        F.length("payload").cast("long").alias("header_bytes"),
    )


# --- real decode paths over synthesized payloads ------------------------
# Pixel/sample values are pure functions of doc_id, so the oracle can
# re-derive every statistic WITHOUT decoding — while the Spark side must
# encode the payload into a real BinaryType column and decode it back
# through the real parsers. Any disagreement in padding, row order,
# offsets, endianness or sign breaks the hash match.

IMG_W = lambda d: 4 + d % 5  # noqa: E731 — 4..8 px (exercises row padding 0..3)
IMG_H = lambda d: 3 + (d * 3) % 5  # noqa: E731 — 3..7 px
IMG_PIX = lambda d, x, y, c: (d + 7 * x + 13 * y + 31 * c) % 256  # noqa: E731
WAV_N = lambda d: 64 + d % 64  # noqa: E731
WAV_S = lambda d, i: (d * 13 + i * i) % 4096 - 2048  # noqa: E731
WAV_RATE = 8000


def image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode over BinaryType: synthesize a 24-bit BMP per
    document (dimensions + pixels are pure functions of doc_id), carry
    it as a binary column through Arrow, decode it back with the
    pure-Python BMP parser, and emit pixel statistics plus a 2x
    nearest-neighbor downsample's statistics (the decode->transform
    step of an image pipeline). The oracle computes the same statistics
    straight from the generation formula — so the encoder and decoder
    must agree byte-for-byte about padding and bottom-up row order or
    the values diverge."""
    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = IMG_W(d), IMG_H(d)
                px = [
                    [tuple(IMG_PIX(d, x, y, c) for c in range(3)) for x in range(w)]
                    for y in range(h)
                ]
                payloads.append(encode_bmp(w, h, px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "width": [],
                "height": [],
                "pixel_sum": [],
                "mean_pixel": [],
                "resized_pixel_sum": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h, px = decode_image(bytes(p))
                total = sum(v for row in px for bgr in row for v in bgr)
                small = sum(
                    v for y in range(0, h, 2) for x in range(0, w, 2) for v in px[y][x]
                )
                rows["doc_id"].append(d)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(total)
                rows["mean_pixel"].append(total // (w * h * 3))
                rows["resized_pixel_sum"].append(small)
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, width long, height long, pixel_sum long,"
            " mean_pixel long, resized_pixel_sum long"
        ),
    )


IMAGE_DECODE_SQL = """
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + (doc_id * 3) % 5 AS h FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h, x.x, y.y, c.c,
         (d.doc_id + 7 * x.x + 13 * y.y + 31 * c.c) % 256 AS v
  FROM dims d,
       LATERAL (SELECT UNNEST(range(0, d.w)) AS x) x,
       LATERAL (SELECT UNNEST(range(0, d.h)) AS y) y,
       LATERAL (SELECT UNNEST(range(0, 3)) AS c) c
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(SUM(v) AS BIGINT) // (w * h * 3) AS mean_pixel,
       CAST(SUM(v) FILTER (WHERE x % 2 = 0 AND y % 2 = 0) AS BIGINT)
         AS resized_pixel_sum
FROM px
GROUP BY doc_id, w, h
"""


BINFILE_CAP = 200  # bounded file count for the file-based ingest path


def _ensure_bmp_files(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a directory of REAL .bmp files (one per document id
    below BINFILE_CAP, pixels from the shared generation formula),
    written DISTRIBUTED via foreachPartition with temp+rename commits —
    at 100 TB an image corpus already lives as files in shared/object
    storage, and each task writing its own files is exactly that shape.
    Idempotent per (session, corpus identity): the dir is keyed by the
    documents table's (size, mtime) fingerprint — the SAME identity the
    streaming twin keys its checkpoint by — so a regenerated corpus
    gets a fresh directory instead of leftover img_N.bmp files from the
    old one leaking into the binaryFile listing."""
    import os

    from tinymapreduce_spark.sources.manifest_sink import _src_fp
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    from tinymapreduce_spark.sources.loaders import load_table

    tag = os.path.basename(os.path.normpath(sf_dir))
    fp = _src_fp(sf_dir, "documents")
    out_dir = os.path.join(SCRATCH, f"bmp_files_{tag}_{fp}")
    marker = f"spark.tinymr.bmp_files_{tag.replace('.', '_')}_{fp}"
    if not spark.conf.get(marker, None):
        os.makedirs(out_dir, exist_ok=True)
        # id-only column-pruned scan (the text column never leaves the
        # footer) fanned to a few writer tasks — file creation is the
        # work here, not the id read
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .where(F.col("doc_id") < BINFILE_CAP)
            .coalesce(8)
        )

        def write_part(rows) -> None:
            prime_worker()
            import os as _os

            for row in rows:
                d = int(row.doc_id)
                w, h = IMG_W(d), IMG_H(d)
                px = [
                    [tuple(IMG_PIX(d, x, y, c) for c in range(3)) for x in range(w)]
                    for y in range(h)
                ]
                tmp = _os.path.join(out_dir, f".img_{d}.tmp")
                with open(tmp, "wb") as f:
                    f.write(encode_bmp(w, h, px))
                _os.replace(tmp, _os.path.join(out_dir, f"img_{d}.bmp"))

        docs.foreachPartition(write_part)
        spark.conf.set(marker, "1")
    return out_dir


def binary_files_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based multimodal ingest — Spark's built-in ``binaryFile``
    source over a directory of real .bmp files: each row arrives as
    (path, modificationTime, length, content binary) with
    ``pathGlobFilter`` pruning the listing, which is how a 100 TB image
    corpus stored as objects is actually scanned (no decode in the
    reader; bytes flow as a binary column). The content then goes
    through the REAL BMP parser in an Arrow-batched kernel, keyed by
    the doc_id parsed from the filename. The oracle re-derives the
    byte size (54-byte headers + padded rows) and the pixel statistics
    from the generation formula — so the writer, the file reader AND
    the decoder must all agree."""
    src = _ensure_bmp_files(spark, sf_dir)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(src)
        .select(
            F.regexp_extract(F.col("path"), r"img_(\d+)\.bmp$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("file_bytes"),
            "content",
        )
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "file_bytes": [],
                "width": [],
                "height": [],
                "pixel_sum": [],
            }
            for d, n, p in zip(pdf["doc_id"], pdf["file_bytes"], pdf["content"]):
                w, h, px = decode_image(bytes(p))
                rows["doc_id"].append(d)
                rows["file_bytes"].append(n)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(
                    sum(v for row in px for bgr in row for v in bgr)
                )
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(
        decode,
        schema="doc_id long, file_bytes long, width long, height long, pixel_sum long",
    )


BINARY_FILES_SQL = f"""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + (doc_id * 3) % 5 AS h
  FROM documents WHERE doc_id < {BINFILE_CAP}
), px AS (
  SELECT d.doc_id, d.w, d.h,
         (d.doc_id + 7 * x.x + 13 * y.y + 31 * c.c) % 256 AS v
  FROM dims d,
       LATERAL (SELECT UNNEST(range(0, d.w)) AS x) x,
       LATERAL (SELECT UNNEST(range(0, d.h)) AS y) y,
       LATERAL (SELECT UNNEST(range(0, 3)) AS c) c
)
SELECT doc_id,
       CAST(54 + h * (w * 3 + (4 - (w * 3) % 4) % 4) AS BIGINT) AS file_bytes,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS pixel_sum
FROM px
GROUP BY doc_id, w, h
"""


def audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode over BinaryType: synthesize a PCM16-mono WAV
    per document (samples are a pure function of doc_id, spanning the
    full signed range), carry it as a binary column through Arrow,
    decode it back with the chunk-walking RIFF parser (a junk LIST
    chunk sits before 'data', so naive offset math fails), and emit
    exact integer energy statistics. The oracle re-derives them from
    the sample formula — little-endian int16 sign handling included."""
    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                payloads.append(
                    encode_wav([WAV_S(d, i) for i in range(WAV_N(d))], WAV_RATE)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "n_samples": [],
                "sample_rate": [],
                "energy": [],
                "peak_abs": [],
                "mean_abs": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = decode_wav(bytes(p))
                rows["doc_id"].append(d)
                rows["n_samples"].append(len(samples))
                rows["sample_rate"].append(rate)
                rows["energy"].append(sum(s * s for s in samples))
                rows["peak_abs"].append(max(abs(s) for s in samples))
                rows["mean_abs"].append(sum(abs(s) for s in samples) // len(samples))
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, n_samples long, sample_rate long, energy long,"
            " peak_abs long, mean_abs long"
        ),
    )


AUDIO_DECODE_SQL = f"""
WITH n AS (
  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents
), s AS (
  SELECT doc_id, n, (doc_id * 13 + i.i * i.i) % 4096 - 2048 AS v
  FROM n, LATERAL (SELECT UNNEST(range(0, n.n)) AS i) i
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST({WAV_RATE} AS BIGINT) AS sample_rate,
       CAST(SUM(v * v) AS BIGINT) AS energy,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs,
       CAST(SUM(ABS(v)) AS BIGINT) // n AS mean_abs
FROM s
GROUP BY doc_id, n
"""


# --- compressed-codec rung: baseline JPEG (functions/jpegcodec.py) -------
# Image dims and QUANTIZED coefficients are pure functions of doc_id:
#   w = 8 + d % 11, h = 8 + 3d % 9      (non-multiples of 8 → crop path)
#   QT(r, c) = 1 + r + c
#   per block b = by*bw + bx, nonzero quantized coefficients at
#   (r, c) ∈ {(0,0), (0,1), (1,0), (3,2)}:
#     (d + 5b) % 32 - 16, (d + 3b) % 15 - 7,
#     (2d + b) % 11 - 5,  (d·b + d) % 7 - 3
# Encoding from quantized coefficients is lossless, so the oracle can
# replay dequant + the fixed-point integer IDCT in SQL while the Spark
# side must round-trip real entropy-coded JFIF bytes (per-image
# canonical Huffman tables, DC prediction, byte stuffing, zigzag).
JPG_W = lambda d: 8 + d % 11  # noqa: E731
JPG_H = lambda d: 8 + (d * 3) % 9  # noqa: E731
JPG_QT = [1 + r + c for r in range(8) for c in range(8)]
JPG_COEF_POS = [(0, 0), (0, 1), (1, 0), (3, 2)]


def _jpg_block(d: int, b: int) -> list[list[int]]:
    blk = [[0] * 8 for _ in range(8)]
    blk[0][0] = (d + 5 * b) % 32 - 16
    blk[0][1] = (d + 3 * b) % 15 - 7
    blk[1][0] = (2 * d + b) % 11 - 5
    blk[3][2] = (d * b + d) % 7 - 3
    return blk


def jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode over BinaryType: synthesize a
    baseline JFIF per document (coefficients per the formula above),
    carry it as a binary column through Arrow, decode it back with the
    full pure-Python baseline decoder (segment walk, DHT canonical
    code build, entropy bit-reader with stuffing, DC prediction,
    EXTEND, dequant, fixed-point integer IDCT, crop) and emit exact
    pixel statistics. The oracle re-derives them from the coefficient
    formula + the same integer IDCT table — a Huffman, zigzag,
    predictor, dequant, IDCT or crop bug all flip the hash.

    Scale shape: same as image_decode_stats — (doc_id, payload) only
    through two Arrow-batched kernels; the decode is per-row local, so
    it partitions trivially at 100 TB."""
    from tinymapreduce_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = JPG_W(d), JPG_H(d)
                bw, bh = (w + 7) // 8, (h + 7) // 8
                blocks = [_jpg_block(d, b) for b in range(bw * bh)]
                # every third doc carries restart intervals — the DRI
                # path decodes through the same driver-checked query
                # (restarts never change pixels, so the oracle is
                # unaffected)
                payloads.append(
                    encode_jpeg(
                        w, h, JPG_QT, [blocks], dri=2 if d % 3 == 0 else 0
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [],
                "width": [],
                "height": [],
                "pixel_sum": [],
                "min_pixel": [],
                "max_pixel": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h, planes = decode_jpeg(bytes(p))
                px = planes[0]
                flat = [v for row in px for v in row]
                rows["doc_id"].append(d)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(sum(flat))
                rows["min_pixel"].append(min(flat))
                rows["max_pixel"].append(max(flat))
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, width long, height long, pixel_sum long,"
            " min_pixel long, max_pixel long"
        ),
    )


def _jpeg_decode_sql() -> str:
    from tinymapreduce_spark.functions.jpegcodec import (
        IDCT_OUT_SHIFT,
        IDCT_ROUND,
        IDCT_T,
    )

    tvals = ", ".join(
        f"({u}, {x}, {IDCT_T[u][x]})" for u in range(8) for x in range(8)
    )
    coefs = ", ".join(
        f"({r}, {c}, "
        + {
            (0, 0): "(doc_id + 5 * b) % 32 - 16",
            (0, 1): "(doc_id + 3 * b) % 15 - 7",
            (1, 0): "(2 * doc_id + b) % 11 - 5",
            (3, 2): "(doc_id * b + doc_id) % 7 - 3",
        }[(r, c)]
        + ")"
        for (r, c) in JPG_COEF_POS
    )
    return f"""
WITH t(u, x, tv) AS (VALUES {tvals}),
dims AS (
  SELECT doc_id, 8 + doc_id % 11 AS w, 8 + (doc_id * 3) % 9 AS h
  FROM documents
), blocks AS (
  SELECT d.doc_id, d.w, d.h, bx.bx, by.by,
         by.by * ((d.w + 7) // 8) + bx.bx AS b
  FROM dims d,
       LATERAL (SELECT UNNEST(range(0, (d.w + 7) // 8)) AS bx) bx,
       LATERAL (SELECT UNNEST(range(0, (d.h + 7) // 8)) AS by) by
), coefs AS (
  SELECT doc_id, w, h, bx, by, cf.r, cf.c,
         cf.val * (1 + cf.r + cf.c) AS coef
  FROM blocks, LATERAL (VALUES {coefs}) cf(r, c, val)
), pix AS (
  SELECT doc_id, w, h, bx * 8 + xs.x AS ix, by * 8 + ys.y AS iy,
         LEAST(255, GREATEST(0,
           128 + CAST(floor((SUM(coef * tu.tv * tvv.tv) + {IDCT_ROUND})
                            / {1 << IDCT_OUT_SHIFT}.0) AS BIGINT))) AS p
  FROM coefs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS y) ys
  JOIN t tu ON tu.u = coefs.c AND tu.x = xs.x
  JOIN t tvv ON tvv.u = coefs.r AND tvv.x = ys.y
  GROUP BY doc_id, w, h, bx, by, xs.x, ys.y
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(p) AS BIGINT) AS pixel_sum,
       CAST(MIN(p) AS BIGINT) AS min_pixel,
       CAST(MAX(p) AS BIGINT) AS max_pixel
FROM pix
WHERE ix < w AND iy < h
GROUP BY doc_id, w, h
"""


JPEG_DECODE_SQL = _jpeg_decode_sql()


# --- 4:2:0 chroma-subsampled baseline JPEG (round 6) ----------------------
# The dominant real-corpus photographic shape: Y sampled 2x2, Cb/Cr 1x1.
# Dims and per-(component, block) quantized coefficients are pure
# functions of doc_id; encoding from quantized coefficients is lossless,
# so the oracle replays dequant + the fixed-point IDCT per COMPONENT
# PLANE (chroma at its own ceil(w/2) x ceil(h/2) resolution — the
# decoder returns raw subsampled planes, no upsampling convention to
# replicate). The Spark side must get the interleaved sampled MCU walk,
# the dummy-block columns past the edge, the per-component DC
# predictors and the restart intervals (every third doc) right, or the
# hash flips.
#   w = 10 + d % 15, h = 10 + 3d % 11
#   mcux = ceil(w/16), mcuy = ceil(h/16)
#   Y full grid 2·mcux x 2·mcuy (stride 2·mcux); chroma mcux x mcuy
#   coefficients at {(0,0),(0,1),(1,0),(3,2)} per (d, ci, b):
#     (d + 5b + 7ci) % 32 - 16, (d + 3b + 11ci) % 15 - 7,
#     (2d + b + 5ci) % 11 - 5,  (d·b + d + 3ci) % 7 - 3
J420_W = lambda d: 10 + d % 15  # noqa: E731
J420_H = lambda d: 10 + (3 * d) % 11  # noqa: E731
J420_COEF = {
    (0, 0): lambda d, ci, b: (d + 5 * b + 7 * ci) % 32 - 16,
    (0, 1): lambda d, ci, b: (d + 3 * b + 11 * ci) % 15 - 7,
    (1, 0): lambda d, ci, b: (2 * d + b + 5 * ci) % 11 - 5,
    (3, 2): lambda d, ci, b: (d * b + d + 3 * ci) % 7 - 3,
}
J420_COEF_SQL = {
    (0, 0): "(doc_id + 5 * b + 7 * ci) % 32 - 16",
    (0, 1): "(doc_id + 3 * b + 11 * ci) % 15 - 7",
    (1, 0): "(2 * doc_id + b + 5 * ci) % 11 - 5",
    (3, 2): "(doc_id * b + doc_id + 3 * ci) % 7 - 3",
}


def _j420_blocks(d: int, ci: int, n: int) -> list[list[list[int]]]:
    out = []
    for b in range(n):
        blk = [[0] * 8 for _ in range(8)]
        for (r, c), f in J420_COEF.items():
            blk[r][c] = f(d, ci, b)
        out.append(blk)
    return out


def jpeg420_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 4:2:0 chroma-subsampled baseline JPEG decode over
    BinaryType: synthesize one color JFIF per document (Y at 2x2 over
    the full interleaved grid including dummy edge blocks, chroma at
    1x1; restart intervals every third doc), round-trip it through the
    full codec, and emit exact per-plane pixel statistics — Y at (w, h),
    chroma at (ceil(w/2), ceil(h/2)). The oracle re-derives every plane
    from the coefficient formula + the same integer IDCT table.

    Scale shape: identical to jpeg_decode_stats — (doc_id, payload)
    through two Arrow-batched kernels, decode row-local, partitions
    trivially at 100 TB."""
    from tinymapreduce_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = J420_W(d), J420_H(d)
                mcux, mcuy = (w + 15) // 16, (h + 15) // 16
                comps = [
                    _j420_blocks(d, 0, (2 * mcux) * (2 * mcuy)),
                    _j420_blocks(d, 1, mcux * mcuy),
                    _j420_blocks(d, 2, mcux * mcuy),
                ]
                payloads.append(
                    encode_jpeg(
                        w, h, JPG_QT, comps,
                        sampling=[(2, 2), (1, 1), (1, 1)],
                        dri=2 if d % 3 == 0 else 0,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "width": [], "height": [],
                "chroma_w": [], "chroma_h": [],
                "y_sum": [], "cb_sum": [], "cr_sum": [],
                "y_min": [], "y_max": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h, planes = decode_jpeg(bytes(p))
                yf = [v for row in planes[0] for v in row]
                cb = [v for row in planes[1] for v in row]
                cr = [v for row in planes[2] for v in row]
                rows["doc_id"].append(d)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["chroma_w"].append(len(planes[1][0]))
                rows["chroma_h"].append(len(planes[1]))
                rows["y_sum"].append(sum(yf))
                rows["cb_sum"].append(sum(cb))
                rows["cr_sum"].append(sum(cr))
                rows["y_min"].append(min(yf))
                rows["y_max"].append(max(yf))
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, width long, height long, chroma_w long,"
            " chroma_h long, y_sum long, cb_sum long, cr_sum long,"
            " y_min long, y_max long"
        ),
    )


# --- progressive (SOF2) 4:4:4 JPEG (round 6) -------------------------------
# Spectral selection + successive approximation: DC scan at Al=1 +
# refinement, per-component AC bands 1..5 / 6..63 at Al=1 + full-band
# refinement. Decoded pixels equal the baseline render of the same
# quantized coefficients, so the oracle stays a pure IDCT replay — a
# bug anywhere in the progressive entropy machinery (EOB runs,
# correction bits, band bookkeeping, per-scan tables) flips the hash.
# Coefficients span both AC bands and the band edge (7,7).
JPROG_W = lambda d: 8 + (5 * d) % 13  # noqa: E731
JPROG_H = lambda d: 8 + (7 * d) % 11  # noqa: E731
JPROG_COEF = {
    (0, 0): lambda d, ci, b: (3 * d + 5 * b + 7 * ci) % 32 - 16,
    (0, 1): lambda d, ci, b: (d + 4 * b + 9 * ci) % 13 - 6,
    (1, 0): lambda d, ci, b: (2 * d + 3 * b + 5 * ci) % 11 - 5,
    (3, 2): lambda d, ci, b: (d * b + 2 * d + 3 * ci) % 7 - 3,
    (5, 5): lambda d, ci, b: (d + b * ci + 4 * ci) % 9 - 4,
    (7, 7): lambda d, ci, b: (2 * d + b + ci) % 5 - 2,
}
JPROG_COEF_SQL = {
    (0, 0): "(3 * doc_id + 5 * b + 7 * ci) % 32 - 16",
    (0, 1): "(doc_id + 4 * b + 9 * ci) % 13 - 6",
    (1, 0): "(2 * doc_id + 3 * b + 5 * ci) % 11 - 5",
    (3, 2): "(doc_id * b + 2 * doc_id + 3 * ci) % 7 - 3",
    (5, 5): "(doc_id + b * ci + 4 * ci) % 9 - 4",
    (7, 7): "(2 * doc_id + b + ci) % 5 - 2",
}


def jpeg_progressive_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive (SOF2) JPEG decode over BinaryType: synthesize a
    4:4:4 color progressive JFIF per document (classic scan script —
    interleaved DC first at Al=1, DC refinement, per-component AC bands
    at Al=1, full-band AC refinement), round-trip it, and emit exact
    per-plane statistics. Same oracle shape as the baseline rung: the
    progressive entropy coding is lossless over quantized coefficients.

    Scale shape: identical to jpeg_decode_stats."""
    from tinymapreduce_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = JPROG_W(d), JPROG_H(d)
                bw, bh = (w + 7) // 8, (h + 7) // 8
                comps = []
                for ci in range(3):
                    blocks = []
                    for b in range(bw * bh):
                        blk = [[0] * 8 for _ in range(8)]
                        for (r, c), f in JPROG_COEF.items():
                            blk[r][c] = f(d, ci, b)
                        blocks.append(blk)
                    comps.append(blocks)
                payloads.append(
                    encode_jpeg(w, h, JPG_QT, comps, progressive=True)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "width": [], "height": [],
                "y_sum": [], "cb_sum": [], "cr_sum": [],
                "min_pixel": [], "max_pixel": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h, planes = decode_jpeg(bytes(p))
                flats = [[v for row in pl for v in row] for pl in planes]
                rows["doc_id"].append(d)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["y_sum"].append(sum(flats[0]))
                rows["cb_sum"].append(sum(flats[1]))
                rows["cr_sum"].append(sum(flats[2]))
                rows["min_pixel"].append(min(min(f) for f in flats))
                rows["max_pixel"].append(max(max(f) for f in flats))
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, width long, height long, y_sum long,"
            " cb_sum long, cr_sum long, min_pixel long, max_pixel long"
        ),
    )


def _jpeg420_decode_sql() -> str:
    from tinymapreduce_spark.functions.jpegcodec import (
        IDCT_OUT_SHIFT,
        IDCT_ROUND,
        IDCT_T,
    )

    tvals = ", ".join(
        f"({u}, {x}, {IDCT_T[u][x]})" for u in range(8) for x in range(8)
    )
    coefs = ", ".join(
        f"({r}, {c}, {J420_COEF_SQL[(r, c)]})" for (r, c) in J420_COEF
    )
    # per component: plane dims (xc, yc) and the FULL-grid stride the
    # encoder indexed blocks with (Y: 2·mcux, chroma: mcux)
    return f"""
WITH t(u, x, tv) AS (VALUES {tvals}),
dims AS (
  SELECT doc_id,
         10 + doc_id % 15 AS w,
         10 + (3 * doc_id) % 11 AS h,
         (10 + doc_id % 15 + 15) // 16 AS mcux
  FROM documents
), comps AS (
  SELECT d.*, c.ci,
         CASE WHEN c.ci = 0 THEN d.w ELSE (d.w + 1) // 2 END AS xc,
         CASE WHEN c.ci = 0 THEN d.h ELSE (d.h + 1) // 2 END AS yc,
         CASE WHEN c.ci = 0 THEN 2 * d.mcux ELSE d.mcux END AS stride
  FROM dims d, (SELECT UNNEST(range(0, 3)) AS ci) c
), blocks AS (
  SELECT c.doc_id, c.ci, c.xc, c.yc, bx.bx, by.by,
         by.by * c.stride + bx.bx AS b
  FROM comps c,
       LATERAL (SELECT UNNEST(range(0, (c.xc + 7) // 8)) AS bx) bx,
       LATERAL (SELECT UNNEST(range(0, (c.yc + 7) // 8)) AS by) by
), coefs AS (
  SELECT doc_id, ci, xc, yc, bx, by, cf.r, cf.c,
         cf.val * (1 + cf.r + cf.c) AS coef
  FROM blocks, LATERAL (VALUES {coefs}) cf(r, c, val)
), pix AS (
  SELECT doc_id, ci, xc, yc, bx * 8 + xs.x AS ix, by * 8 + ys.y AS iy,
         LEAST(255, GREATEST(0,
           128 + CAST(floor((SUM(coef * tu.tv * tvv.tv) + {IDCT_ROUND})
                            / {1 << IDCT_OUT_SHIFT}.0) AS BIGINT))) AS p
  FROM coefs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS y) ys
  JOIN t tu ON tu.u = coefs.c AND tu.x = xs.x
  JOIN t tvv ON tvv.u = coefs.r AND tvv.x = ys.y
  GROUP BY doc_id, ci, xc, yc, bx, by, xs.x, ys.y
), per_comp AS (
  SELECT doc_id, ci, xc, yc,
         SUM(p) AS s, MIN(p) AS mn, MAX(p) AS mx
  FROM pix
  WHERE ix < xc AND iy < yc
  GROUP BY doc_id, ci, xc, yc
)
SELECT doc_id,
       CAST(MAX(CASE WHEN ci = 0 THEN xc END) AS BIGINT) AS width,
       CAST(MAX(CASE WHEN ci = 0 THEN yc END) AS BIGINT) AS height,
       CAST(MAX(CASE WHEN ci = 1 THEN xc END) AS BIGINT) AS chroma_w,
       CAST(MAX(CASE WHEN ci = 1 THEN yc END) AS BIGINT) AS chroma_h,
       CAST(MAX(CASE WHEN ci = 0 THEN s END) AS BIGINT) AS y_sum,
       CAST(MAX(CASE WHEN ci = 1 THEN s END) AS BIGINT) AS cb_sum,
       CAST(MAX(CASE WHEN ci = 2 THEN s END) AS BIGINT) AS cr_sum,
       CAST(MAX(CASE WHEN ci = 0 THEN mn END) AS BIGINT) AS y_min,
       CAST(MAX(CASE WHEN ci = 0 THEN mx END) AS BIGINT) AS y_max
FROM per_comp
GROUP BY doc_id
"""


def _jpeg_progressive_decode_sql() -> str:
    from tinymapreduce_spark.functions.jpegcodec import (
        IDCT_OUT_SHIFT,
        IDCT_ROUND,
        IDCT_T,
    )

    tvals = ", ".join(
        f"({u}, {x}, {IDCT_T[u][x]})" for u in range(8) for x in range(8)
    )
    coefs = ", ".join(
        f"({r}, {c}, {JPROG_COEF_SQL[(r, c)]})" for (r, c) in JPROG_COEF
    )
    return f"""
WITH t(u, x, tv) AS (VALUES {tvals}),
dims AS (
  SELECT doc_id,
         8 + (5 * doc_id) % 13 AS w,
         8 + (7 * doc_id) % 11 AS h
  FROM documents
), blocks AS (
  SELECT d.doc_id, d.w, d.h, c.ci, bx.bx, by.by,
         by.by * ((d.w + 7) // 8) + bx.bx AS b
  FROM dims d,
       (SELECT UNNEST(range(0, 3)) AS ci) c,
       LATERAL (SELECT UNNEST(range(0, (d.w + 7) // 8)) AS bx) bx,
       LATERAL (SELECT UNNEST(range(0, (d.h + 7) // 8)) AS by) by
), coefs AS (
  SELECT doc_id, w, h, ci, bx, by, cf.r, cf.c,
         cf.val * (1 + cf.r + cf.c) AS coef
  FROM blocks, LATERAL (VALUES {coefs}) cf(r, c, val)
), pix AS (
  SELECT doc_id, w, h, ci, bx * 8 + xs.x AS ix, by * 8 + ys.y AS iy,
         LEAST(255, GREATEST(0,
           128 + CAST(floor((SUM(coef * tu.tv * tvv.tv) + {IDCT_ROUND})
                            / {1 << IDCT_OUT_SHIFT}.0) AS BIGINT))) AS p
  FROM coefs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS y) ys
  JOIN t tu ON tu.u = coefs.c AND tu.x = xs.x
  JOIN t tvv ON tvv.u = coefs.r AND tvv.x = ys.y
  GROUP BY doc_id, w, h, ci, bx, by, xs.x, ys.y
), per_comp AS (
  SELECT doc_id, w, h, ci,
         SUM(p) AS s, MIN(p) AS mn, MAX(p) AS mx
  FROM pix
  WHERE ix < w AND iy < h
  GROUP BY doc_id, w, h, ci
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(MAX(CASE WHEN ci = 0 THEN s END) AS BIGINT) AS y_sum,
       CAST(MAX(CASE WHEN ci = 1 THEN s END) AS BIGINT) AS cb_sum,
       CAST(MAX(CASE WHEN ci = 2 THEN s END) AS BIGINT) AS cr_sum,
       CAST(MIN(mn) AS BIGINT) AS min_pixel,
       CAST(MAX(mx) AS BIGINT) AS max_pixel
FROM per_comp
GROUP BY doc_id, w, h
"""


JPEG420_DECODE_SQL = _jpeg420_decode_sql()
JPEG_PROGRESSIVE_DECODE_SQL = _jpeg_progressive_decode_sql()


# --- PNG rung (round 6): stdlib-zlib inflate + filter reconstruction ------
# Pixels are pure functions of doc_id; decode(encode(pixels)) is
# bit-exact REGARDLESS of zlib version (compression changes IDAT bytes,
# never the inflated stream), so the oracle replays the pixel formula
# directly. The corpus cycles all three color types, both interlace
# methods and all five row filters:
#   w = 9 + d % 14, h = 7 + 3d % 12, filter(y) = (y + d) % 5,
#   interlace = d % 2 (1 = Adam7), color type by d % 3:
#     0 (gray):    v = (d + 3x + 7y) % 256, r = g = b = v
#     1 (rgb):     r = (d + x + 2y) % 256, g = (2d + 3x + y) % 256,
#                  b = (d + 5x + 3y) % 256
#     2 (palette): i = (d + x + y) % 16,
#                  pal[i] = ((d+7i) % 256, (2d+11i) % 256, (3d+13i) % 256)
PNG_W = lambda d: 9 + d % 14  # noqa: E731
PNG_H = lambda d: 7 + (3 * d) % 12  # noqa: E731


def png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode over BinaryType: synthesize one PNG per document
    (color type / interlacing / row filters cycling per the formulas
    above), carry it as a binary column, decode it back through the
    full pure-Python decoder (CRC-checked chunk walk, multi-IDAT
    inflate, all five filter reconstructions incl. Paeth, palette
    lookup, Adam7 pass merge) and emit exact per-channel sums. The
    oracle re-derives them from the pixel formula — a chunk, filter,
    palette, or interlace bug all flip the hash.

    Scale shape: identical to the JPEG rungs — (doc_id, payload)
    through two Arrow-batched kernels, decode row-local."""
    from tinymapreduce_spark.functions.pngcodec import decode_png, encode_png

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = PNG_W(d), PNG_H(d)
                kind = d % 3
                if kind == 0:
                    px = [
                        [(d + 3 * x + 7 * y) % 256 for x in range(w)]
                        for y in range(h)
                    ]
                    ct, pal = 0, None
                elif kind == 1:
                    px = [
                        [
                            (
                                (d + x + 2 * y) % 256,
                                (2 * d + 3 * x + y) % 256,
                                (d + 5 * x + 3 * y) % 256,
                            )
                            for x in range(w)
                        ]
                        for y in range(h)
                    ]
                    ct, pal = 2, None
                else:
                    pal = [
                        (
                            (d + 7 * i) % 256,
                            (2 * d + 11 * i) % 256,
                            (3 * d + 13 * i) % 256,
                        )
                        for i in range(16)
                    ]
                    px = [
                        [(d + x + y) % 16 for x in range(w)] for y in range(h)
                    ]
                    ct = 3
                payloads.append(
                    encode_png(
                        w, h, px, color_type=ct, palette=pal,
                        interlace=d % 2,
                        filters=lambda y, d=d: (y + d) % 5,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "width": [], "height": [], "color_type": [],
                "r_sum": [], "g_sum": [], "b_sum": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h, px = decode_png(bytes(p))
                rows["doc_id"].append(d)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["color_type"].append([0, 2, 3][int(d) % 3])
                rows["r_sum"].append(sum(v[0] for row in px for v in row))
                rows["g_sum"].append(sum(v[1] for row in px for v in row))
                rows["b_sum"].append(sum(v[2] for row in px for v in row))
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, width long, height long, color_type long,"
            " r_sum long, g_sum long, b_sum long"
        ),
    )


# png16_decode_stats formulas (kind = doc_id % 4):
#  0: gray 16-bit       v = (257d + 1031x + 2003y) % 65536
#  1: gray+alpha 8-bit  v = (d + 3x + 5y) % 256,  a = (2d + x + y) % 256
#  2: RGBA 8-bit        r=(d+x+2y)%256 g=(2d+3x+y)%256 b=(d+5x+3y)%256 a=(3d+x+y)%256
#  3: RGBA 16-bit       r=(513d+999x+7y) g=(257d+11x+777y) b=(129d+31x+63y)
#                       a=(65d+255x+129y), all % 65536
_PNG16_CT = (0, 4, 6, 6)
_PNG16_DEPTH = (16, 8, 8, 16)


def png16_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit + alpha PNG rung (VERDICT r6 #5, closing the SURVEY §12.2
    codec edge): synthesize one PNG per document cycling grayscale-16,
    gray+alpha-8, RGBA-8 and RGBA-16 (with Adam7 on odd docs and all
    five row filters cycling), decode through the same pure-Python
    chunk walk and emit exact per-channel + alpha sums AT NATIVE DEPTH.
    Big-endian 16-bit samples and the widened filter bpp distance are
    load-bearing — a byte-order or stride bug flips the hash. Oracle
    re-derives the sums from the pixel formulas. Row-local Arrow
    kernels, the codec-tier scale shape."""
    from tinymapreduce_spark.functions.pngcodec import decode_png, encode_png

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = PNG_W(d), PNG_H(d)
                kind = d % 4
                if kind == 0:
                    px = [
                        [(257 * d + 1031 * x + 2003 * y) % 65536 for x in range(w)]
                        for y in range(h)
                    ]
                elif kind == 1:
                    px = [
                        [
                            ((d + 3 * x + 5 * y) % 256, (2 * d + x + y) % 256)
                            for x in range(w)
                        ]
                        for y in range(h)
                    ]
                elif kind == 2:
                    px = [
                        [
                            (
                                (d + x + 2 * y) % 256,
                                (2 * d + 3 * x + y) % 256,
                                (d + 5 * x + 3 * y) % 256,
                                (3 * d + x + y) % 256,
                            )
                            for x in range(w)
                        ]
                        for y in range(h)
                    ]
                else:
                    px = [
                        [
                            (
                                (513 * d + 999 * x + 7 * y) % 65536,
                                (257 * d + 11 * x + 777 * y) % 65536,
                                (129 * d + 31 * x + 63 * y) % 65536,
                                (65 * d + 255 * x + 129 * y) % 65536,
                            )
                            for x in range(w)
                        ]
                        for y in range(h)
                    ]
                payloads.append(
                    encode_png(
                        w, h, px,
                        color_type=_PNG16_CT[kind],
                        depth=_PNG16_DEPTH[kind],
                        interlace=d % 2,
                        filters=lambda y, d=d: (y + d) % 5,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "width": [], "height": [], "color_type": [],
                "bit_depth": [], "r_sum": [], "g_sum": [], "b_sum": [],
                "a_sum": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                d = int(d)
                kind = d % 4
                w, h, px = decode_png(bytes(p))
                rows["doc_id"].append(d)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["color_type"].append(_PNG16_CT[kind])
                rows["bit_depth"].append(_PNG16_DEPTH[kind])
                rows["r_sum"].append(sum(v[0] for row in px for v in row))
                rows["g_sum"].append(sum(v[1] for row in px for v in row))
                rows["b_sum"].append(sum(v[2] for row in px for v in row))
                rows["a_sum"].append(
                    sum(v[3] for row in px for v in row) if kind else 0
                )
            yield pd.DataFrame(rows)

    payloads = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return payloads.mapInPandas(
        decode,
        schema=(
            "doc_id long, width long, height long, color_type long,"
            " bit_depth long, r_sum long, g_sum long, b_sum long, a_sum long"
        ),
    )


PNG16_DECODE_SQL = """
WITH dims AS (
  SELECT doc_id, 9 + doc_id % 14 AS w, 7 + (3 * doc_id) % 12 AS h,
         doc_id % 4 AS kind
  FROM documents
), px AS (
  SELECT doc_id, w, h, kind, xs.x, ys.y
  FROM dims,
       LATERAL (SELECT UNNEST(range(0, w)) AS x) xs,
       LATERAL (SELECT UNNEST(range(0, h)) AS y) ys
), chans AS (
  SELECT doc_id, w, h, kind,
         CASE kind
           WHEN 0 THEN (257 * doc_id + 1031 * x + 2003 * y) % 65536
           WHEN 1 THEN (doc_id + 3 * x + 5 * y) % 256
           WHEN 2 THEN (doc_id + x + 2 * y) % 256
           ELSE (513 * doc_id + 999 * x + 7 * y) % 65536
         END AS r,
         CASE kind
           WHEN 0 THEN (257 * doc_id + 1031 * x + 2003 * y) % 65536
           WHEN 1 THEN (doc_id + 3 * x + 5 * y) % 256
           WHEN 2 THEN (2 * doc_id + 3 * x + y) % 256
           ELSE (257 * doc_id + 11 * x + 777 * y) % 65536
         END AS g,
         CASE kind
           WHEN 0 THEN (257 * doc_id + 1031 * x + 2003 * y) % 65536
           WHEN 1 THEN (doc_id + 3 * x + 5 * y) % 256
           WHEN 2 THEN (doc_id + 5 * x + 3 * y) % 256
           ELSE (129 * doc_id + 31 * x + 63 * y) % 65536
         END AS b,
         CASE kind
           WHEN 0 THEN 0
           WHEN 1 THEN (2 * doc_id + x + y) % 256
           WHEN 2 THEN (3 * doc_id + x + y) % 256
           ELSE (65 * doc_id + 255 * x + 129 * y) % 65536
         END AS a
  FROM px
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(CASE kind WHEN 0 THEN 0 WHEN 1 THEN 4 ELSE 6 END AS BIGINT)
         AS color_type,
       CAST(CASE kind WHEN 0 THEN 16 WHEN 3 THEN 16 ELSE 8 END AS BIGINT)
         AS bit_depth,
       CAST(SUM(r) AS BIGINT) AS r_sum,
       CAST(SUM(g) AS BIGINT) AS g_sum,
       CAST(SUM(b) AS BIGINT) AS b_sum,
       CAST(SUM(a) AS BIGINT) AS a_sum
FROM chans
GROUP BY doc_id, w, h, kind
"""


PNG_DECODE_SQL = """
WITH dims AS (
  SELECT doc_id, 9 + doc_id % 14 AS w, 7 + (3 * doc_id) % 12 AS h
  FROM documents
), px AS (
  SELECT doc_id, w, h, xs.x, ys.y,
         doc_id % 3 AS kind,
         (doc_id + xs.x + ys.y) % 16 AS pi
  FROM dims,
       LATERAL (SELECT UNNEST(range(0, w)) AS x) xs,
       LATERAL (SELECT UNNEST(range(0, h)) AS y) ys
), chans AS (
  SELECT doc_id, w, h,
         CASE kind
           WHEN 0 THEN (doc_id + 3 * x + 7 * y) % 256
           WHEN 1 THEN (doc_id + x + 2 * y) % 256
           ELSE (doc_id + 7 * pi) % 256
         END AS r,
         CASE kind
           WHEN 0 THEN (doc_id + 3 * x + 7 * y) % 256
           WHEN 1 THEN (2 * doc_id + 3 * x + y) % 256
           ELSE (2 * doc_id + 11 * pi) % 256
         END AS g,
         CASE kind
           WHEN 0 THEN (doc_id + 3 * x + 7 * y) % 256
           WHEN 1 THEN (doc_id + 5 * x + 3 * y) % 256
           ELSE (3 * doc_id + 13 * pi) % 256
         END AS b
  FROM px
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 3 END AS BIGINT)
         AS color_type,
       CAST(SUM(r) AS BIGINT) AS r_sum,
       CAST(SUM(g) AS BIGINT) AS g_sum,
       CAST(SUM(b) AS BIGINT) AS b_sum
FROM chans
GROUP BY doc_id, w, h
"""


# --- GIF rung (round 6): real LZW, no libraries at all --------------------
# Third compression family in the codec tier (Huffman/JPEG, DEFLATE/PNG,
# LZW/GIF). Palette indices are pure functions of doc_id with 2x2 block
# structure (runs exercise LZW dictionary growth); every other doc is
# 4-pass interlaced. decode(encode) is exactly lossless, so the oracle
# replays the formula:
#   w = 8 + 5d % 17, h = 6 + 7d % 13, npal = 5 + d % 12,
#   idx(x, y) = (x // 2 + 3 * (y // 2) + d) % npal,
#   pal[i] = ((3d + 5i) % 256, (d + 9i) % 256, (2d + 7i) % 256)
GIF_W = lambda d: 8 + (5 * d) % 17  # noqa: E731
GIF_H = lambda d: 6 + (7 * d) % 13  # noqa: E731


def gif_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode over BinaryType: synthesize one GIF89a per
    document (variable palette size, a comment extension the decoder
    must sub-block-walk, interlacing on every other doc), round-trip it
    through the pure-Python LZW codec and emit exact per-channel sums.
    The oracle re-derives them from the index/palette formulas — an
    LZW, bit-packing, sub-block, palette or interlace bug flips the
    hash.

    Scale shape: identical to the JPEG/PNG rungs — row-local decode
    through two Arrow-batched kernels."""
    from tinymapreduce_spark.functions.gifcodec import decode_gif, encode_gif

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = GIF_W(d), GIF_H(d)
                npal = 5 + d % 12
                pal = [
                    ((3 * d + 5 * i) % 256, (d + 9 * i) % 256, (2 * d + 7 * i) % 256)
                    for i in range(npal)
                ]
                idx = [
                    [(x // 2 + 3 * (y // 2) + d) % npal for x in range(w)]
                    for y in range(h)
                ]
                payloads.append(
                    encode_gif(w, h, idx, pal, interlace=bool(d % 2))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "width": [], "height": [],
                "r_sum": [], "g_sum": [], "b_sum": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h, px = decode_gif(bytes(p))
                rows["doc_id"].append(d)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["r_sum"].append(sum(v[0] for row in px for v in row))
                rows["g_sum"].append(sum(v[1] for row in px for v in row))
                rows["b_sum"].append(sum(v[2] for row in px for v in row))
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, width long, height long,"
            " r_sum long, g_sum long, b_sum long"
        ),
    )


GIF_DECODE_SQL = """
WITH dims AS (
  SELECT doc_id,
         8 + (5 * doc_id) % 17 AS w,
         6 + (7 * doc_id) % 13 AS h,
         5 + doc_id % 12 AS npal
  FROM documents
), px AS (
  SELECT doc_id, w, h,
         (xs.x // 2 + 3 * (ys.y // 2) + doc_id) % npal AS pi
  FROM dims,
       LATERAL (SELECT UNNEST(range(0, w)) AS x) xs,
       LATERAL (SELECT UNNEST(range(0, h)) AS y) ys
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM((3 * doc_id + 5 * pi) % 256) AS BIGINT) AS r_sum,
       CAST(SUM((doc_id + 9 * pi) % 256) AS BIGINT) AS g_sum,
       CAST(SUM((2 * doc_id + 7 * pi) % 256) AS BIGINT) AS b_sum
FROM px
GROUP BY doc_id, w, h
"""


# --- G.711 rung (round 6): compressed telephony audio ---------------------
# µ-law / A-law are STATELESS per-byte expansions (CCITT G.711), so the
# oracle replays the exact bit-level formula in SQL — the audio-side
# analog of the image codec rungs. Code bytes are pure functions of
# doc_id: n = 40 + d % 60 samples, c(i) = (7d + 13i) % 256, µ-law on
# even docs / A-law on odd (format codes 7 / 6 in the WAV container).
G711_N = lambda d: 40 + d % 60  # noqa: E731


def g711_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode over BinaryType: synthesize one
    G.711 WAV per document (µ-law or A-law code bytes in a format-7/6
    RIFF container with a junk LIST chunk), decode it back through the
    chunk walker + the exact CCITT expansions, and emit linear-PCM
    statistics. The oracle replays the bit-level expansion formulas —
    a sign-convention, bias, segment-shift or container bug flips the
    hash (A-law's inverted sign bit is the classic one).

    Scale shape: identical to the image rungs — row-local decode
    through two Arrow-batched kernels."""
    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = G711_N(d)
                codes = [(7 * d + 13 * i) % 256 for i in range(n)]
                law = "ulaw" if d % 2 == 0 else "alaw"
                payloads.append(encode_wav_g711(codes, law))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "law": [], "n_samples": [],
                "sample_sum": [], "min_sample": [], "max_sample": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                _, samples = decode_wav(bytes(p))
                rows["doc_id"].append(d)
                rows["law"].append("ulaw" if int(d) % 2 == 0 else "alaw")
                rows["n_samples"].append(len(samples))
                rows["sample_sum"].append(sum(samples))
                rows["min_sample"].append(min(samples))
                rows["max_sample"].append(max(samples))
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, law string, n_samples long, sample_sum long,"
            " min_sample long, max_sample long"
        ),
    )


G711_DECODE_SQL = """
WITH codes AS (
  SELECT doc_id, (7 * doc_id + 13 * i.i) % 256 AS c
  FROM documents,
       LATERAL (SELECT UNNEST(range(0, 40 + doc_id % 60)) AS i) i
), expanded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN
           -- u-law: u = ~c; t = ((u & 15) << 3 + 132) << seg; +-(t - 132)
           CASE WHEN ((255 - c) & 128) <> 0
             THEN 132 - (((((255 - c) & 15) << 3) + 132) << (((255 - c) >> 4) & 7))
             ELSE (((((255 - c) & 15) << 3) + 132) << (((255 - c) >> 4) & 7)) - 132
           END
         ELSE
           -- A-law: a = c ^ 85; seg 0 linear, else (t + 264) << (seg-1);
           -- sign bit 1 = POSITIVE
           CASE WHEN (xor(c, 85) & 128) <> 0 THEN 1 ELSE -1 END *
           CASE WHEN ((xor(c, 85) >> 4) & 7) = 0
             THEN ((xor(c, 85) & 15) << 4) + 8
             ELSE (((xor(c, 85) & 15) << 4) + 264)
                    << (((xor(c, 85) >> 4) & 7) - 1)
           END
         END AS s
  FROM codes
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS law,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(s) AS BIGINT) AS sample_sum,
       CAST(MIN(s) AS BIGINT) AS min_sample,
       CAST(MAX(s) AS BIGINT) AS max_sample
FROM expanded
GROUP BY doc_id
"""


# --- image near-dup dedup: perceptual hash over REAL decoded pixels ------
# Ties the multimodal tier into the dedup ladder: documents in the same
# GROUP (g = doc_id % PH_GROUPS) share a base image; each doc perturbs
# ONE pixel (position and delta pure functions of doc_id), so same-group
# pairs land within a small Hamming distance of each other's 8x8
# average-hash while cross-group pairs sit far apart. The Spark side
# must round-trip REAL BMP bytes (encode -> decode -> hash); the oracle
# re-derives pixels, the floor-mean threshold, the four 16-bit hash
# bands and the full pair set from the formula. Banding is EXACT for
# the emitted pairs: hamming <= PH_MAX_HAMMING < 4 bands guarantees at
# least one identical band (pigeonhole), the same completeness argument
# as the simhash text tier.
PH_GROUPS = 40
PH_MAX_HAMMING = 3
# base pattern is NONLINEAR per group ((g+1)·(x²+3y²) mod 97) — a pure
# brightness offset would be invisible to the mean-thresholded hash and
# let cross-group pairs collide (measured: this form separates groups
# completely at 500 docs, ~2.8k same-group pairs, 0 cross-group)
PH_BASE = (
    lambda g, x, y: (
        g * 73 + 31 * x + 57 * y + ((g + 1) * (x * x + 3 * y * y)) % 97 * 2
    ) % 256
)  # noqa: E731
PH_POS = lambda d: (d * 7) % 64  # noqa: E731 — the one perturbed pixel
PH_PIX = lambda d, x, y: (
    (PH_BASE(d % PH_GROUPS, x, y) + 40) % 256
    if (x + 8 * y) == PH_POS(d)
    else PH_BASE(d % PH_GROUPS, x, y)
)  # noqa: E731


def _ahash_bands(px: list[list[tuple[int, int, int]]]) -> list[int]:
    """8x8 average-hash of a decoded grayscale image as FOUR 16-bit band
    ints (bit k of band b = pixel k+16b > floor(mean)) — bands instead
    of one 64-bit value so neither engine touches signed-overflow
    territory."""
    flat = [px[y][x][0] for y in range(8) for x in range(8)]
    mean = sum(flat) // 64
    bands = [0, 0, 0, 0]
    for k, v in enumerate(flat):
        if v > mean:
            bands[k // 16] |= 1 << (k % 16)
    return bands


def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection over REAL decoded pixels: encode
    each document's 8x8 grayscale BMP (formula above), decode it back
    with the real BMP parser, compute the 8x8 average-hash, and find
    all pairs within Hamming distance ``PH_MAX_HAMMING`` via a banded
    equi-join (4x16-bit bands — a candidate pair must share one exact
    band, never an all-pairs join). Output: (id_a, id_b, hamming).

    Scale shape: identical to the simhash text tier — one narrow
    (doc_id, 4 bands) relation, candidates from the band equi-join
    (each hot band's bucket joins within itself), exact Hamming verify
    on candidates only. At 100 TB the hash relation is ~40 B/image and
    the join touches only same-band buckets."""
    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                px = [
                    [(PH_PIX(d, x, y),) * 3 for x in range(8)] for y in range(8)
                ]
                payloads.append(encode_bmp(8, 8, px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def hash_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {"doc_id": [], "b0": [], "b1": [], "b2": [], "b3": []}
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                _, _, px = decode_image(bytes(p))
                bands = _ahash_bands(px)
                rows["doc_id"].append(d)
                for i in range(4):
                    rows[f"b{i}"].append(bands[i])
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    hashes = blobs.mapInPandas(
        hash_kernel, schema="doc_id long, b0 long, b1 long, b2 long, b3 long"
    )
    bands = hashes.select(
        "doc_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("bi"), F.col(f"b{i}").alias("bv")) for i in range(4)])
        ).alias("e"),
    ).select("doc_id", "b0", "b1", "b2", "b3", "e.bi", "e.bv")
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
        "bi",
        "bv",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"b{i}").alias(f"c{i}") for i in range(4)],
        "bi",
        "bv",
    )
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}"))) for i in range(4)
    )
    return (
        a.join(b, ["bi", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .where(F.col("hamming") <= PH_MAX_HAMMING)
        .distinct()
    )


IMAGE_PHASH_SQL = f"""
WITH px AS (
  SELECT d.doc_id,
         xs.x, ys.y,
         (((d.doc_id % {PH_GROUPS}) * 73 + 31 * xs.x + 57 * ys.y
           + ((d.doc_id % {PH_GROUPS} + 1) * (xs.x * xs.x + 3 * ys.y * ys.y)) % 97 * 2
           + CASE WHEN xs.x + 8 * ys.y = (d.doc_id * 7) % 64 THEN 40 ELSE 0 END)
          ) % 256 AS v
  FROM (SELECT doc_id FROM documents) d
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS y) ys
), means AS (
  SELECT doc_id, CAST(SUM(v) AS BIGINT) // 64 AS m FROM px GROUP BY doc_id
), bands AS MATERIALIZED (
  SELECT px.doc_id, (px.x + 8 * px.y) // 16 AS bi,
         CAST(SUM(CASE WHEN px.v > means.m
                       THEN 1 << ((px.x + 8 * px.y) % 16) ELSE 0 END) AS BIGINT) AS bv
  FROM px JOIN means USING (doc_id)
  GROUP BY px.doc_id, (px.x + 8 * px.y) // 16
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(bit_count(xor(a.bv, b.bv))) AS BIGINT) AS hamming
  FROM bands a
  JOIN bands b ON a.bi = b.bi AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {PH_MAX_HAMMING}
"""


IMAGE_HEADER_SQL = """
WITH blobs AS (
  SELECT doc_id,
         unhex('89504E470D0A1A0A') || unhex('0000000D') || encode('IHDR')
         || unhex(lpad(to_hex(CAST(100 + doc_id % 512 AS INT)), 8, '0'))
         || unhex(lpad(to_hex(CAST(100 + (doc_id * 7) % 512 AS INT)), 8, '0'))
         || unhex('0806000000') AS payload
  FROM documents
)
SELECT doc_id,
       -- DuckDB has no blob substr: byte offset k maps to hex chars 2k-1..
       substr(hex(payload), 1, 16) = '89504E470D0A1A0A' AS magic_ok,
       CAST('0x' || substr(hex(payload), 33, 8) AS BIGINT) AS width,
       CAST('0x' || substr(hex(payload), 41, 8) AS BIGINT) AS height,
       CAST(octet_length(payload) AS BIGINT) AS header_bytes
FROM blobs
"""


# --- REAL video decode: AVI/MJPEG container (round 6) ----------------------
# Per doc: an MJPEG AVI of F = 2 + d % 4 frames at w = 8·(1 + d % 2),
# h = 8 (block-aligned so the plane replay needs no crop). Frame f,
# block b carries quantized coefficients at the standard 4 positions:
#   (d + 5b + 9f) % 32 - 16, (d + 3b + 5f) % 15 - 7,
#   (2d + b + 3f) % 11 - 5,  (d·b + d + f) % 7 - 3
# The query SAMPLES every second frame (f % 2 == 0) — the training-
# pipeline frame-sampling contract — and decodes only those, so the
# oracle replays the IDCT for sampled frames only. Encoding from
# quantized coefficients is lossless; a RIFF-framing, idx1, MJPEG
# chunk-walk, frame-order or sampling bug flips counts or sums.
VID_W = lambda d: 8 * (1 + d % 2)  # noqa: E731
VID_H = 8
VID_FRAMES = lambda d: 2 + d % 4  # noqa: E731
VID_COEF = {
    (0, 0): lambda d, f, b: (d + 5 * b + 9 * f) % 32 - 16,
    (0, 1): lambda d, f, b: (d + 3 * b + 5 * f) % 15 - 7,
    (1, 0): lambda d, f, b: (2 * d + b + 3 * f) % 11 - 5,
    (3, 2): lambda d, f, b: (d * b + d + f) % 7 - 3,
}
VID_COEF_SQL = {
    (0, 0): "(doc_id + 5 * b + 9 * f) % 32 - 16",
    (0, 1): "(doc_id + 3 * b + 5 * f) % 15 - 7",
    (1, 0): "(2 * doc_id + b + 3 * f) % 11 - 5",
    (3, 2): "(doc_id * b + doc_id + f) % 7 - 3",
}


def _vid_frame_jpeg(d: int, f: int) -> bytes:
    from tinymapreduce_spark.functions.jpegcodec import encode_jpeg_gray

    w, nb = VID_W(d), VID_W(d) // 8
    blocks = []
    for b in range(nb):
        blk = [[0] * 8 for _ in range(8)]
        for (r, c), fn in VID_COEF.items():
            blk[r][c] = fn(d, f, b)
        blocks.append(blk)
    return encode_jpeg_gray(w, VID_H, JPG_QT, blocks)


def video_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode over BinaryType: synthesize one MJPEG AVI per
    document (RIFF tree with real avih/strh/strf headers and an idx1
    index; every '00dc' chunk a complete baseline JFIF from the
    from-scratch encoder), walk the container back, SAMPLE every second
    frame, decode the sampled frames with the full pure-Python baseline
    JPEG decoder, and emit exact per-doc pixel statistics. The oracle
    re-derives them from the coefficient formula + the integer IDCT
    table for the sampled frames only.

    Scale shape: same as the image/audio codec rungs — (doc_id,
    payload) through two Arrow-batched kernels, row-local decode, no
    shuffle; frame sampling drops the decode cost of skipped frames
    BEFORE any pixel work (the container walk is O(bytes), the JPEG
    decode only runs on sampled chunks) — at 100 TB that is the
    difference between decoding 1/2 of the corpus and all of it.
    Closes the multimodal modality list: image, audio, video all
    decode for real (video was previously a byte-stride stand-in —
    ``frame_sample``)."""
    # imports HERE (driver side): the captured function objects pickle
    # by value to the workers — a lazy import inside the kernel would
    # fail from a foreign cwd (the verify-recipe pickling trap)
    from tinymapreduce_spark.functions.avifiles import (
        parse_avi_mjpeg,
        write_avi_mjpeg,
    )
    from tinymapreduce_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")
    coef_fns, qt = VID_COEF, JPG_QT

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, nb = VID_W(d), VID_W(d) // 8
                frames = []
                for f in range(VID_FRAMES(d)):
                    blocks = []
                    for b in range(nb):
                        blk = [[0] * 8 for _ in range(8)]
                        for (r, c), fn in coef_fns.items():
                            blk[r][c] = fn(d, f, b)
                        blocks.append(blk)
                    frames.append(encode_jpeg_gray(w, VID_H, qt, blocks))
                payloads.append(write_avi_mjpeg(w, VID_H, frames))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "width": [], "height": [], "n_frames": [],
                "n_sampled": [], "pixel_sum": [], "min_pixel": [],
                "max_pixel": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h, frames = parse_avi_mjpeg(bytes(p))
                flat: list[int] = []
                sampled = frames[::2]
                for jfif in sampled:
                    fw, fh, planes = decode_jpeg(bytes(jfif))
                    if (fw, fh) != (w, h):
                        raise ValueError("frame dims disagree with avih")
                    flat.extend(v for row in planes[0] for v in row)
                rows["doc_id"].append(d)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_frames"].append(len(frames))
                rows["n_sampled"].append(len(sampled))
                rows["pixel_sum"].append(sum(flat))
                rows["min_pixel"].append(min(flat))
                rows["max_pixel"].append(max(flat))
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, width long, height long, n_frames long,"
            " n_sampled long, pixel_sum long, min_pixel long,"
            " max_pixel long"
        ),
    )


def _video_decode_sql() -> str:
    from tinymapreduce_spark.functions.jpegcodec import (
        IDCT_OUT_SHIFT,
        IDCT_ROUND,
        IDCT_T,
    )

    tvals = ", ".join(
        f"({u}, {x}, {IDCT_T[u][x]})" for u in range(8) for x in range(8)
    )
    coefs = ", ".join(
        f"({r}, {c}, {VID_COEF_SQL[(r, c)]})" for (r, c) in JPG_COEF_POS
    )
    return f"""
WITH t(u, x, tv) AS (VALUES {tvals}),
dims AS (
  SELECT doc_id, 8 * (1 + doc_id % 2) AS w, {VID_H} AS h,
         2 + doc_id % 4 AS nf
  FROM documents
), sampled AS (
  SELECT d.doc_id, d.w, d.h, d.nf, fr.f, b.b
  FROM dims d,
       LATERAL (SELECT UNNEST(range(0, d.nf)) AS f) fr,
       LATERAL (SELECT UNNEST(range(0, d.w // 8)) AS b) b
  WHERE fr.f % 2 = 0
), coefs AS (
  SELECT doc_id, w, h, nf, f, b, cf.r, cf.c,
         cf.val * (1 + cf.r + cf.c) AS coef
  FROM sampled, LATERAL (VALUES {coefs}) cf(r, c, val)
), pix AS (
  SELECT doc_id, w, h, nf, f, b, xs.x, ys.y,
         LEAST(255, GREATEST(0,
           128 + CAST(floor((SUM(coef * tu.tv * tvv.tv) + {IDCT_ROUND})
                            / {1 << IDCT_OUT_SHIFT}.0) AS BIGINT))) AS p
  FROM coefs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS y) ys
  JOIN t tu ON tu.u = coefs.c AND tu.x = xs.x
  JOIN t tvv ON tvv.u = coefs.r AND tvv.x = ys.y
  GROUP BY doc_id, w, h, nf, f, b, xs.x, ys.y
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(nf AS BIGINT) AS n_frames,
       CAST((nf + 1) // 2 AS BIGINT) AS n_sampled,
       CAST(SUM(p) AS BIGINT) AS pixel_sum,
       CAST(MIN(p) AS BIGINT) AS min_pixel,
       CAST(MAX(p) AS BIGINT) AS max_pixel
FROM pix
GROUP BY doc_id, w, h, nf
"""


VIDEO_DECODE_SQL = _video_decode_sql()


# --- 4:2:0 MJPEG video + index-less AVI fallback (round 7) -----------------
# The two most common real-world AVI shapes beyond the canonical one
# (VERDICT r6 #7): frames that are CHROMA-SUBSAMPLED color JFIFs (the
# jpeg420 rung's geometry, now per-frame), and containers with NO idx1
# (legacy/streamed captures) where the reader must scan 'movi' directly
# — odd docs omit the index AND clear AVIF_HASINDEX (the walker raises
# if the flag promises an index that is missing).
#   w = 10 + d % 15, h = 10 + 3d % 11 (the j420 grid), nf = 2 + d % 4,
#   sample f % 2 == 0; coefficients per (d, f, ci, b):
V420_COEF = {
    (0, 0): lambda d, f, ci, b: (d + 5 * b + 7 * ci + 9 * f) % 32 - 16,
    (0, 1): lambda d, f, ci, b: (d + 3 * b + 11 * ci + 5 * f) % 15 - 7,
    (1, 0): lambda d, f, ci, b: (2 * d + b + 5 * ci + 3 * f) % 11 - 5,
    (3, 2): lambda d, f, ci, b: (d * b + d + 3 * ci + f) % 7 - 3,
}
V420_COEF_SQL = {
    (0, 0): "(doc_id + 5 * b + 7 * ci + 9 * f) % 32 - 16",
    (0, 1): "(doc_id + 3 * b + 11 * ci + 5 * f) % 15 - 7",
    (1, 0): "(2 * doc_id + b + 5 * ci + 3 * f) % 11 - 5",
    (3, 2): "(doc_id * b + doc_id + 3 * ci + f) % 7 - 3",
}


def video420_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 MJPEG video decode + index-less AVI walk over BinaryType:
    per document, synthesize an AVI whose frames are chroma-subsampled
    COLOR JFIFs (Y at 2x2 over the full interleaved grid incl. dummy
    edge blocks, chroma at 1x1), with odd docs written WITHOUT idx1
    (AVIF_HASINDEX cleared) so the walker's 'movi'-scan fallback is the
    live path for half the corpus. Sample every second frame, decode
    through the full 4:2:0 pipeline, emit exact per-plane sums across
    sampled frames. Oracle replays dequant + the integer IDCT per
    component plane per sampled frame — an interleave, subsampling,
    container-index, or sampling bug flips the hash.

    Scale shape: same as video_decode_stats — row-local Arrow kernels,
    pixels never shuffle, skipped frames are skipped BEFORE pixel
    work."""
    from tinymapreduce_spark.functions.avifiles import (
        parse_avi_mjpeg,
        write_avi_mjpeg,
    )
    from tinymapreduce_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")
    coef_fns, qt = V420_COEF, JPG_QT

    def frame_blocks(d: int, f: int, ci: int, n: int) -> list:
        out = []
        for b in range(n):
            blk = [[0] * 8 for _ in range(8)]
            for (r, c), fn in coef_fns.items():
                blk[r][c] = fn(d, f, ci, b)
            out.append(blk)
        return out

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = J420_W(d), J420_H(d)
                mcux, mcuy = (w + 15) // 16, (h + 15) // 16
                frames = []
                for f in range(2 + d % 4):
                    comps = [
                        frame_blocks(d, f, 0, (2 * mcux) * (2 * mcuy)),
                        frame_blocks(d, f, 1, mcux * mcuy),
                        frame_blocks(d, f, 2, mcux * mcuy),
                    ]
                    frames.append(
                        encode_jpeg(
                            w, h, qt, comps,
                            sampling=[(2, 2), (1, 1), (1, 1)],
                        )
                    )
                payloads.append(
                    write_avi_mjpeg(w, h, frames, with_index=(d % 2 == 0))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "width": [], "height": [], "chroma_w": [],
                "chroma_h": [], "n_frames": [], "n_sampled": [],
                "has_index": [], "y_sum": [], "cb_sum": [], "cr_sum": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                d = int(d)
                w, h, frames = parse_avi_mjpeg(bytes(p))
                sampled = frames[::2]
                ys = cbs = crs = 0
                cw = ch = 0
                for jf in sampled:
                    fw, fh, planes = decode_jpeg(jf)
                    ys += sum(v for row in planes[0] for v in row)
                    cbs += sum(v for row in planes[1] for v in row)
                    crs += sum(v for row in planes[2] for v in row)
                    cw, ch = len(planes[1][0]), len(planes[1])
                rows["doc_id"].append(d)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["chroma_w"].append(cw)
                rows["chroma_h"].append(ch)
                rows["n_frames"].append(len(frames))
                rows["n_sampled"].append(len(sampled))
                rows["has_index"].append(1 - d % 2)
                rows["y_sum"].append(ys)
                rows["cb_sum"].append(cbs)
                rows["cr_sum"].append(crs)
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, width long, height long, chroma_w long,"
            " chroma_h long, n_frames long, n_sampled long,"
            " has_index long, y_sum long, cb_sum long, cr_sum long"
        ),
    )


def _video420_decode_sql() -> str:
    from tinymapreduce_spark.functions.jpegcodec import (
        IDCT_OUT_SHIFT,
        IDCT_ROUND,
        IDCT_T,
    )

    tvals = ", ".join(
        f"({u}, {x}, {IDCT_T[u][x]})" for u in range(8) for x in range(8)
    )
    coefs = ", ".join(
        f"({r}, {c}, {V420_COEF_SQL[(r, c)]})" for (r, c) in V420_COEF
    )
    return f"""
WITH t(u, x, tv) AS (VALUES {tvals}),
dims AS (
  SELECT doc_id,
         10 + doc_id % 15 AS w,
         10 + (3 * doc_id) % 11 AS h,
         (10 + doc_id % 15 + 15) // 16 AS mcux,
         2 + doc_id % 4 AS nf
  FROM documents
), comps AS (
  SELECT d.*, c.ci,
         CASE WHEN c.ci = 0 THEN d.w ELSE (d.w + 1) // 2 END AS xc,
         CASE WHEN c.ci = 0 THEN d.h ELSE (d.h + 1) // 2 END AS yc,
         CASE WHEN c.ci = 0 THEN 2 * d.mcux ELSE d.mcux END AS stride
  FROM dims d, (SELECT UNNEST(range(0, 3)) AS ci) c
), fb AS (
  SELECT c.doc_id, c.ci, c.xc, c.yc, c.nf, fr.f, bx.bx, by.by,
         by.by * c.stride + bx.bx AS b
  FROM comps c,
       LATERAL (SELECT UNNEST(range(0, c.nf)) AS f) fr,
       LATERAL (SELECT UNNEST(range(0, (c.xc + 7) // 8)) AS bx) bx,
       LATERAL (SELECT UNNEST(range(0, (c.yc + 7) // 8)) AS by) by
  WHERE fr.f % 2 = 0
), coefs AS (
  SELECT doc_id, ci, xc, yc, nf, f, bx, by, cf.r, cf.c,
         cf.val * (1 + cf.r + cf.c) AS coef
  FROM fb, LATERAL (VALUES {coefs}) cf(r, c, val)
), pix AS (
  SELECT doc_id, ci, xc, yc, nf, f,
         bx * 8 + xs.x AS ix, by * 8 + ys.y AS iy,
         LEAST(255, GREATEST(0,
           128 + CAST(floor((SUM(coef * tu.tv * tvv.tv) + {IDCT_ROUND})
                            / {1 << IDCT_OUT_SHIFT}.0) AS BIGINT))) AS p
  FROM coefs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS y) ys
  JOIN t tu ON tu.u = coefs.c AND tu.x = xs.x
  JOIN t tvv ON tvv.u = coefs.r AND tvv.x = ys.y
  GROUP BY doc_id, ci, xc, yc, nf, f, bx, by, xs.x, ys.y
), per_comp AS (
  SELECT doc_id, ci, xc, yc, nf, SUM(p) AS s
  FROM pix
  WHERE ix < xc AND iy < yc
  GROUP BY doc_id, ci, xc, yc, nf
)
SELECT doc_id,
       CAST(MAX(CASE WHEN ci = 0 THEN xc END) AS BIGINT) AS width,
       CAST(MAX(CASE WHEN ci = 0 THEN yc END) AS BIGINT) AS height,
       CAST(MAX(CASE WHEN ci = 1 THEN xc END) AS BIGINT) AS chroma_w,
       CAST(MAX(CASE WHEN ci = 1 THEN yc END) AS BIGINT) AS chroma_h,
       CAST(MAX(nf) AS BIGINT) AS n_frames,
       CAST((MAX(nf) + 1) // 2 AS BIGINT) AS n_sampled,
       CAST(1 - doc_id % 2 AS BIGINT) AS has_index,
       CAST(MAX(CASE WHEN ci = 0 THEN s END) AS BIGINT) AS y_sum,
       CAST(MAX(CASE WHEN ci = 1 THEN s END) AS BIGINT) AS cb_sum,
       CAST(MAX(CASE WHEN ci = 2 THEN s END) AS BIGINT) AS cr_sum
FROM per_comp
GROUP BY doc_id
"""


VIDEO420_DECODE_SQL = _video420_decode_sql()


# --- frequency-domain audio features (round 6 continuation) ----------------
# Integer DFT over fixed 32-sample windows: the cos/sin tables are
# quantized ONCE here (scale 2^14) and the SAME integers are inlined
# into the SQL oracle, so there is no rounding-mode seam — re/im/power
# are exact BIGINT arithmetic end to end. The spectral corpus plants a
# dominant TONE at bin K(d) = SPEC_BINS[d % 4] (synthesized from the
# same quantized table) on top of a low-frequency parabola floor, so
# the per-doc argmax genuinely varies and a table-indexing bug
# ((i*k) mod 32) cannot hide. All divisions run on non-negative
# operands (Python floor == SQL trunc there). |sample| <= 3584 fits
# PCM16; |re| <= 32*3584*16384 < 2^31, power < 2^62, <= 3 windows.
SPEC_W = 32
SPEC_BINS = (1, 2, 4, 8)
SPEC_SCALE = 14
_SPEC_COS = [
    round(__import__("math").cos(2 * __import__("math").pi * j / SPEC_W) * (1 << SPEC_SCALE))
    for j in range(SPEC_W)
]
_SPEC_SIN = [
    round(__import__("math").sin(2 * __import__("math").pi * j / SPEC_W) * (1 << SPEC_SCALE))
    for j in range(SPEC_W)
]
SPEC_N = lambda d: 64 + d % 64  # noqa: E731


def SPEC_S(d: int, i: int) -> int:
    """Spectral-corpus sample: parabola floor + tone at bin K(d)."""
    k = SPEC_BINS[d % 4]
    tone = ((_SPEC_COS[(i * k) % SPEC_W] + (1 << SPEC_SCALE)) * 3) // 16 - 3072
    return ((d * 13 + i * i) % 4096) // 4 - 512 + tone


def audio_spectral_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain audio features over REAL decoded WAV bytes: a
    PCM16 WAV per document (tone at a formula-chosen bin over a
    parabola floor) round-trips through the chunk-walking RIFF codec,
    splits into full 32-sample windows, and each window's power at bins
    {1,2,4,8} comes from an exact integer DFT (quantized cos/sin tables
    shared verbatim with the oracle). Emits per doc: window count,
    per-bin total power, and the dominant bin (argmax, ties to the
    lower bin) — which must recover the planted tone. The oracle
    replays the whole pipeline; decode bugs, window boundaries, table
    indexing and the argmax tie rule all flip the hash.

    Scale shape: row-local Arrow kernel (numpy int64 matmul per batch),
    no shuffle; O(W x |bins|) per window with W fixed — the codec
    tier's per-byte cost profile. This is the curation signal
    time-domain energy cannot give: tone-vs-noise and band placement
    (speech/music heuristics start exactly here)."""
    import numpy as np

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")
    cos_t = np.array(_SPEC_COS, dtype=np.int64)
    sin_t = np.array(_SPEC_SIN, dtype=np.int64)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "n_windows": [], "dominant_bin": [],
                **{f"power_b{k}": [] for k in SPEC_BINS},
            }
            for d in pdf["doc_id"]:
                d = int(d)
                wav = encode_wav([SPEC_S(d, i) for i in range(SPEC_N(d))], WAV_RATE)
                _, samples = decode_wav(wav)  # the REAL decode path
                s = np.asarray(samples, dtype=np.int64)
                nw = len(s) // SPEC_W
                win = s[: nw * SPEC_W].reshape(nw, SPEC_W)
                totals = {}
                for k in SPEC_BINS:
                    idx = (np.arange(SPEC_W) * k) % SPEC_W
                    re = win @ cos_t[idx]
                    im = win @ sin_t[idx]
                    totals[k] = int((re * re + im * im).sum())
                dom = max(SPEC_BINS, key=lambda k: (totals[k], -k))
                rows["doc_id"].append(d)
                rows["n_windows"].append(nw)
                rows["dominant_bin"].append(dom)
                for k in SPEC_BINS:
                    rows[f"power_b{k}"].append(totals[k])
            yield pd.DataFrame(rows)

    schema = "doc_id long, n_windows long, dominant_bin long, " + ", ".join(
        f"power_b{k} long" for k in SPEC_BINS
    )
    return docs.mapInPandas(kernel, schema=schema)


def _audio_spectral_sql() -> str:
    table = ", ".join(
        f"({j}, {_SPEC_COS[j]}, {_SPEC_SIN[j]})" for j in range(SPEC_W)
    )
    bins = ", ".join(str(k) for k in SPEC_BINS)
    kd = " ".join(
        f"WHEN {m} THEN {SPEC_BINS[m]}" for m in range(4)
    )
    powers = ",\n       ".join(
        f"CAST(MAX(CASE WHEN k = {k} THEN p END) AS BIGINT) AS power_b{k}"
        for k in SPEC_BINS
    )
    return f"""
WITH t(j, c, s) AS (VALUES {table}),
dims AS (
  SELECT doc_id, 64 + doc_id % 64 AS n,
         CASE doc_id % 4 {kd} END AS kd
  FROM documents
), win AS (
  SELECT doc_id, w.w, i.i,
         ((doc_id * 13 + (w.w * {SPEC_W} + i.i) * (w.w * {SPEC_W} + i.i)) % 4096) // 4 - 512
         + ((tt.c + {1 << SPEC_SCALE}) * 3) // 16 - 3072 AS x
  FROM dims,
       LATERAL (SELECT UNNEST(range(0, n // {SPEC_W})) AS w) w,
       LATERAL (SELECT UNNEST(range(0, {SPEC_W})) AS i) i
  JOIN t tt ON tt.j = ((w.w * {SPEC_W} + i.i) * kd) % {SPEC_W}
), comp AS (
  SELECT doc_id, w, k.k,
         SUM(x * t.c) AS re, SUM(x * t.s) AS im
  FROM win,
       LATERAL (SELECT UNNEST([{bins}]) AS k) k
  JOIN t ON t.j = (i * k.k) % {SPEC_W}
  GROUP BY doc_id, w, k.k
), tot AS (
  SELECT doc_id, k, SUM(re * re + im * im) AS p
  FROM comp GROUP BY doc_id, k
), dom AS (
  SELECT doc_id, k AS dominant_bin,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p DESC, k ASC) AS rn
  FROM tot
)
SELECT tot.doc_id,
       CAST((64 + tot.doc_id % 64) // {SPEC_W} AS BIGINT) AS n_windows,
       CAST(MAX(dom.dominant_bin) AS BIGINT) AS dominant_bin,
       {powers}
FROM tot
JOIN dom ON dom.doc_id = tot.doc_id AND dom.rn = 1
GROUP BY tot.doc_id
"""


AUDIO_SPECTRAL_SQL = _audio_spectral_sql()


# --- deterministic image augmentation (round 6 continuation) ---------------
# The training-data augmentation step over REAL decoded pixels:
# horizontal flip, 90-degree clockwise rotation, center crop — each a
# coordinate remap of the generation formula, so the oracle re-derives
# every variant's statistics by substituting the INVERSE transform into
# IMG_PIX. The weighted sum (x + 3y weighting) is orientation-
# SENSITIVE: a flipped flip, a counter-clockwise rotation or an
# off-by-one crop offset all flip the hash where a plain pixel_sum
# (flip-invariant) would not.
AUG_VARIANTS = ("orig", "hflip", "rot90", "crop")


def image_augment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic augmentation over the real BMP decode path: each
    document's image is decoded, then horizontally flipped, rotated 90
    degrees clockwise, and center-cropped by a 1-pixel border; every
    variant emits (width, height, pixel_sum, weighted_sum) where
    weighted_sum = sum over (x + 3y) * value — the orientation witness.
    Augmentation is a row-local numpy remap (view-only: flip/rot90/crop
    never copy until the stats fold), exactly the per-sample cost
    profile a vision pipeline's aug stage has at 100 TB."""
    import numpy as np

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "variant": [], "width": [], "height": [],
                "pixel_sum": [], "weighted_sum": [],
            }
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = IMG_W(d), IMG_H(d)
                px = [
                    [tuple(IMG_PIX(d, x, y, c) for c in range(3)) for x in range(w)]
                    for y in range(h)
                ]
                wdec, hdec, pdec = decode_image(encode_bmp(w, h, px))
                arr = np.array(pdec, dtype=np.int64)  # (h, w, 3)
                variants = {
                    "orig": arr,
                    "hflip": arr[:, ::-1],
                    "rot90": np.rot90(arr, k=-1),
                    "crop": arr[1:-1, 1:-1],
                }
                for name, a in variants.items():
                    vh, vw = a.shape[0], a.shape[1]
                    xs = np.arange(vw).reshape(1, vw, 1)
                    ys = np.arange(vh).reshape(vh, 1, 1)
                    rows["doc_id"].append(d)
                    rows["variant"].append(name)
                    rows["width"].append(vw)
                    rows["height"].append(vh)
                    rows["pixel_sum"].append(int(a.sum()))
                    rows["weighted_sum"].append(int(((xs + 3 * ys) * a).sum()))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        schema=(
            "doc_id long, variant string, width long, height long,"
            " pixel_sum long, weighted_sum long"
        ),
    )


# inverse maps (out coords -> IMG_PIX args), dims per variant:
#   orig : (x, y), w x h
#   hflip: (w-1-x, y), w x h
#   rot90 (clockwise, np.rot90 k=-1): out (x, y) <- in (y, h-1-x); out dims h x w
#   crop : (x+1, y+1), (w-2) x (h-2)
IMAGE_AUGMENT_SQL = """
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + (doc_id * 3) % 5 AS h
  FROM documents
), variants AS (
  SELECT doc_id, w, h, v.variant,
         CASE v.variant WHEN 'rot90' THEN h WHEN 'crop' THEN w - 2 ELSE w END AS vw,
         CASE v.variant WHEN 'rot90' THEN w WHEN 'crop' THEN h - 2 ELSE h END AS vh
  FROM dims,
       LATERAL (SELECT UNNEST(['orig', 'hflip', 'rot90', 'crop']) AS variant) v
), px AS (
  SELECT doc_id, variant, vw, vh, x.x, y.y, c.c,
         (doc_id
          + 7 * (CASE variant WHEN 'hflip' THEN vw - 1 - x.x
                              WHEN 'rot90' THEN y.y
                              WHEN 'crop'  THEN x.x + 1
                              ELSE x.x END)
          + 13 * (CASE variant WHEN 'rot90' THEN h - 1 - x.x
                               WHEN 'crop'  THEN y.y + 1
                               ELSE y.y END)
          + 31 * c.c) % 256 AS val
  FROM variants,
       LATERAL (SELECT UNNEST(range(0, vw)) AS x) x,
       LATERAL (SELECT UNNEST(range(0, vh)) AS y) y,
       LATERAL (SELECT UNNEST(range(0, 3)) AS c) c
)
SELECT doc_id, variant,
       CAST(vw AS BIGINT) AS width,
       CAST(vh AS BIGINT) AS height,
       CAST(SUM(val) AS BIGINT) AS pixel_sum,
       CAST(SUM((x + 3 * y) * val) AS BIGINT) AS weighted_sum
FROM px
GROUP BY doc_id, variant, vw, vh
"""


# --- TIFF / PackBits (round 6 continuation) ---------------------------------
# The tag-directory container family + the RLE compression family:
# dims/pixels pure functions of doc_id, PackBits on odd docs,
# BIG-ENDIAN files on every third doc (the byte-order axis no other
# container exercises), strips of 4 rows so multi-strip assembly is
# live in every file.
TIFF_W = lambda d: 6 + d % 7  # noqa: E731
TIFF_H = lambda d: 5 + (3 * d) % 6  # noqa: E731
TIFF_PIX = lambda d, x, y: (11 * d + 7 * x + 13 * y) % 256  # noqa: E731


def tiff_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode over BinaryType: one strip-based grayscale TIFF
    per document (PackBits-compressed on odd docs, big-endian on every
    third), walked back through the IFD parser — byte-order mark,
    SHORT-in-value-field left-justification, strip offset/count arrays,
    exact strip coverage, PackBits control stream — and reduced to
    exact pixel statistics the oracle re-derives from the formula. A
    tag, endianness, strip-assembly or RLE bug flips the hash.
    Row-local Arrow kernels — the codec-tier scale shape."""
    from tinymapreduce_spark.functions.tiffcodec import decode_tiff, encode_tiff

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "packbits": [], "big_endian": [],
                "width": [], "height": [], "pixel_sum": [], "max_pixel": [],
            }
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = TIFF_W(d), TIFF_H(d)
                px = [[TIFF_PIX(d, x, y) for x in range(w)] for y in range(h)]
                blob = encode_tiff(
                    w, h, px, packbits=bool(d % 2), big_endian=d % 3 == 0
                )
                w2, h2, back = decode_tiff(blob)
                flat = [v for row in back for v in row]
                rows["doc_id"].append(d)
                rows["packbits"].append(d % 2)
                rows["big_endian"].append(int(d % 3 == 0))
                rows["width"].append(w2)
                rows["height"].append(h2)
                rows["pixel_sum"].append(sum(flat))
                rows["max_pixel"].append(max(flat))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        roundtrip,
        schema=(
            "doc_id long, packbits long, big_endian long, width long,"
            " height long, pixel_sum long, max_pixel long"
        ),
    )


TIFF_DECODE_SQL = """
WITH px AS (
  SELECT doc_id, 6 + doc_id % 7 AS w, 5 + (3 * doc_id) % 6 AS h,
         (11 * doc_id + 7 * x.x + 13 * y.y) % 256 AS v
  FROM documents,
       LATERAL (SELECT UNNEST(range(0, 6 + doc_id % 7)) AS x) x,
       LATERAL (SELECT UNNEST(range(0, 5 + (3 * doc_id) % 6)) AS y) y
)
SELECT doc_id,
       CAST(doc_id % 2 AS BIGINT) AS packbits,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS big_endian,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(MAX(v) AS BIGINT) AS max_pixel
FROM px
GROUP BY doc_id, w, h
"""


# --- TIFF LZW + predictor (round 7) -----------------------------------------
# TIFF's own LZW (§13: MSB-first, early change) and the horizontal-
# differencing predictor (§14). Dims are ~3x the PackBits query's so
# LZW strips cross the 9->10-bit width bump in-query; strips of 16
# rows keep multi-strip assembly live.
TIFFL_W = lambda d: 24 + d % 9  # noqa: E731
TIFFL_H = lambda d: 18 + (3 * d) % 10  # noqa: E731


def tiff_lzw_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF-LZW decode over BinaryType: per document one grayscale
    TIFF cycling compression none / LZW / LZW+predictor-2 (doc_id % 3)
    across both byte orders (doc_id % 2), decoded back through the IFD
    walker + the from-scratch MSB-first early-change LZW + the per-row
    prefix-sum predictor inverse, reduced to exact pixel statistics the
    oracle re-derives from the pixel formula. A width-bump off-by-one,
    KwKwK defect, or predictor direction bug flips the hash. Row-local
    Arrow kernels; pixels never shuffle."""
    from tinymapreduce_spark.functions.tiffcodec import decode_tiff, encode_tiff

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "mode": [], "big_endian": [],
                "width": [], "height": [], "pixel_sum": [], "corner_sum": [],
            }
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = TIFFL_W(d), TIFFL_H(d)
                px = [[(11 * d + 7 * x + 13 * y) % 256 for x in range(w)]
                      for y in range(h)]
                mode = d % 3
                blob = encode_tiff(
                    w, h, px,
                    big_endian=bool(d % 2),
                    rows_per_strip=16,
                    lzw=mode > 0,
                    predictor=mode == 2,
                )
                w2, h2, back = decode_tiff(blob)
                rows["doc_id"].append(d)
                rows["mode"].append(mode)
                rows["big_endian"].append(d % 2)
                rows["width"].append(w2)
                rows["height"].append(h2)
                rows["pixel_sum"].append(sum(v for r in back for v in r))
                rows["corner_sum"].append(
                    back[0][0] + back[0][-1] + back[-1][0] + back[-1][-1]
                )
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        roundtrip,
        schema=(
            "doc_id long, mode long, big_endian long, width long,"
            " height long, pixel_sum long, corner_sum long"
        ),
    )


TIFF_LZW_DECODE_SQL = """
WITH dims AS (
  SELECT doc_id, 24 + doc_id % 9 AS w, 18 + (3 * doc_id) % 10 AS h
  FROM documents
), px AS (
  SELECT doc_id, w, h, x.x, y.y,
         (11 * doc_id + 7 * x.x + 13 * y.y) % 256 AS v
  FROM dims,
       LATERAL (SELECT UNNEST(range(0, w)) AS x) x,
       LATERAL (SELECT UNNEST(range(0, h)) AS y) y
)
SELECT doc_id,
       CAST(doc_id % 3 AS BIGINT) AS mode,
       CAST(doc_id % 2 AS BIGINT) AS big_endian,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(SUM(CASE WHEN (x = 0 OR x = w - 1) AND (y = 0 OR y = h - 1)
                     THEN v ELSE 0 END) AS BIGINT) AS corner_sum
FROM px
GROUP BY doc_id, w, h
"""


# --- Lossless JPEG (SOF3) (round 7) -----------------------------------------
# Predictor-coded samples, the codec family where 12- and 16-bit
# precision become real. The x*y term makes the pixel surface
# nonlinear so each of the seven predictors produces a distinct
# difference stream (a predictor mix-up cannot cancel out).
JLS_PREC = lambda d: (8, 12, 16)[d % 3]  # noqa: E731


def jpeg_lossless_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-JPEG decode over BinaryType: per document one SOF3
    stream cycling precision 8/12/16 (doc_id % 3), predictor 1..7
    (doc_id % 7) and point transform 0/1 (doc_id % 2), decoded back
    through the marker walk + Huffman difference stream + modulo-2^16
    predictor reconstruction, reduced to exact sample statistics the
    oracle re-derives from the pixel formula (samples are the
    Al-shifted values, T.81 H.2.1). A predictor, category-16, or
    first-row/first-column seeding bug flips the hash. Row-local Arrow
    kernels; pixels never shuffle."""
    from tinymapreduce_spark.functions.jpegcodec import (
        decode_jpeg_lossless,
        encode_jpeg_lossless,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "precision": [], "predictor": [], "pt": [],
                "width": [], "height": [], "sample_sum": [], "max_sample": [],
            }
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 17 + d % 8, 13 + (3 * d) % 7
                prec, pred, pt = JLS_PREC(d), 1 + d % 7, d % 2
                mod = 1 << prec
                px = [[(11 * d + 7 * x + 13 * y + x * y) % mod
                       for x in range(w)] for y in range(h)]
                blob = encode_jpeg_lossless(
                    w, h, px, predictor=pred, precision=prec,
                    point_transform=pt,
                )
                w2, h2, p2, pr2, pt2, back = decode_jpeg_lossless(blob)
                flat = [v for row in back for v in row]
                rows["doc_id"].append(d)
                rows["precision"].append(p2)
                rows["predictor"].append(pr2)
                rows["pt"].append(pt2)
                rows["width"].append(w2)
                rows["height"].append(h2)
                rows["sample_sum"].append(sum(flat))
                rows["max_sample"].append(max(flat))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        roundtrip,
        schema=(
            "doc_id long, precision long, predictor long, pt long,"
            " width long, height long, sample_sum long, max_sample long"
        ),
    )


JPEG_LOSSLESS_DECODE_SQL = """
WITH dims AS (
  SELECT doc_id, 17 + doc_id % 8 AS w, 13 + (3 * doc_id) % 7 AS h,
         CASE doc_id % 3 WHEN 0 THEN 256 WHEN 1 THEN 4096
              ELSE 65536 END AS md,
         doc_id % 2 AS pt
  FROM documents
), px AS (
  SELECT doc_id, w, h, md, pt,
         ((11 * doc_id + 7 * x.x + 13 * y.y + x.x * y.y) % md) >> pt AS s
  FROM dims,
       LATERAL (SELECT UNNEST(range(0, w)) AS x) x,
       LATERAL (SELECT UNNEST(range(0, h)) AS y) y
)
SELECT doc_id,
       CAST(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 12 ELSE 16 END
            AS BIGINT) AS precision,
       CAST(1 + doc_id % 7 AS BIGINT) AS predictor,
       CAST(pt AS BIGINT) AS pt,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(s) AS BIGINT) AS sample_sum,
       CAST(MAX(s) AS BIGINT) AS max_sample
FROM px
GROUP BY doc_id, w, h, pt
"""


# --- PNG sub-byte depths (round 7) ------------------------------------------
# Depths 1/2/4 x {grayscale, palette} (spec table 11.1's remaining
# legal rows): MSB-first bit packing per scanline, byte-wise filters at
# bpp=1, each Adam7 pass packed independently. Pixel index formula
# v = (3x + 5y + d) % 2^depth; palette entry i maps to
# ((7i + d) % 256, (11i + 3d) % 256, (13i + 5d) % 256).
_PNGSB_DEPTH = (1, 2, 4, 1, 2, 4)


def png_subbyte_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-byte PNG rung: one PNG per document cycling depths 1/2/4 as
    grayscale (doc_id % 6 in 0..2) and palette (3..5), Adam7 on odd
    docs, all five filters cycling, decoded back through the chunk walk
    + bit unpacking and reduced to exact per-channel sums. A bit-order,
    stride-rounding (ceil(w*depth/8)) or pass-packing bug flips the
    hash. Row-local Arrow kernels."""
    from tinymapreduce_spark.functions.pngcodec import decode_png, encode_png

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "bit_depth": [], "paletted": [],
                "width": [], "height": [], "r_sum": [], "g_sum": [],
                "b_sum": [],
            }
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = PNG_W(d), PNG_H(d)
                kind = d % 6
                depth = _PNGSB_DEPTH[kind]
                mod = 1 << depth
                px = [[(3 * x + 5 * y + d) % mod for x in range(w)]
                      for y in range(h)]
                paletted = kind >= 3
                pal = [((7 * i + d) % 256, (11 * i + 3 * d) % 256,
                        (13 * i + 5 * d) % 256) for i in range(mod)]
                blob = encode_png(
                    w, h, px,
                    color_type=3 if paletted else 0,
                    palette=pal if paletted else None,
                    depth=depth,
                    interlace=d % 2,
                    filters=lambda y, d=d: (y + d) % 5,
                )
                w2, h2, back = decode_png(blob)
                rows["doc_id"].append(d)
                rows["bit_depth"].append(depth)
                rows["paletted"].append(int(paletted))
                rows["width"].append(w2)
                rows["height"].append(h2)
                rows["r_sum"].append(sum(v[0] for row in back for v in row))
                rows["g_sum"].append(sum(v[1] for row in back for v in row))
                rows["b_sum"].append(sum(v[2] for row in back for v in row))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        roundtrip,
        schema=(
            "doc_id long, bit_depth long, paletted long, width long,"
            " height long, r_sum long, g_sum long, b_sum long"
        ),
    )


PNG_SUBBYTE_DECODE_SQL = """
WITH dims AS (
  SELECT doc_id, 9 + doc_id % 14 AS w, 7 + (3 * doc_id) % 12 AS h,
         CASE doc_id % 6 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
              WHEN 3 THEN 1 WHEN 4 THEN 2 ELSE 4 END AS depth,
         CASE WHEN doc_id % 6 >= 3 THEN 1 ELSE 0 END AS paletted
  FROM documents
), px AS (
  SELECT doc_id, w, h, depth, paletted,
         (3 * x.x + 5 * y.y + doc_id) % (1 << depth) AS v
  FROM dims,
       LATERAL (SELECT UNNEST(range(0, w)) AS x) x,
       LATERAL (SELECT UNNEST(range(0, h)) AS y) y
), ch AS (
  SELECT doc_id, w, h, depth, paletted,
         CASE WHEN paletted = 1 THEN (7 * v + doc_id) % 256 ELSE v END AS r,
         CASE WHEN paletted = 1 THEN (11 * v + 3 * doc_id) % 256 ELSE v END AS g,
         CASE WHEN paletted = 1 THEN (13 * v + 5 * doc_id) % 256 ELSE v END AS b
  FROM px
)
SELECT doc_id,
       CAST(depth AS BIGINT) AS bit_depth,
       CAST(paletted AS BIGINT) AS paletted,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(r) AS BIGINT) AS r_sum,
       CAST(SUM(g) AS BIGINT) AS g_sum,
       CAST(SUM(b) AS BIGINT) AS b_sum
FROM ch
GROUP BY doc_id, w, h, depth, paletted
"""


# --- 12-bit extended sequential JPEG (SOF1) (round 7) -----------------------
# The >8-bit DCT path: SOF1 frames with precision 12, Pq=1 16-bit DQT
# elements (required once any element > 255), level shift 2048 and
# clamp 0..4095 in the IDCT. Coefficient formulas widened so decoded
# samples actually leave the 8-bit range.
J12_W = lambda d: 9 + d % 13  # noqa: E731
J12_H = lambda d: 9 + (3 * d) % 10  # noqa: E731
J12_QT = [1 + ((3 * i) % 7) * 97 for i in range(64)]  # elements up to 583


def _j12_block(d: int, b: int) -> list[list[int]]:
    blk = [[0] * 8 for _ in range(8)]
    blk[0][0] = (d + 5 * b) % 128 - 64
    blk[0][1] = (d + 3 * b) % 31 - 15
    blk[1][0] = (2 * d + b) % 21 - 10
    blk[3][2] = (d * b + d) % 13 - 6
    return blk


def jpeg12_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 12-bit JPEG decode over BinaryType: one SOF1 extended-
    sequential grayscale frame per document (16-bit DQT elements,
    restart intervals every third doc), decoded through the same
    baseline entropy machinery with the 12-bit level shift/clamp, and
    reduced to exact pixel statistics the oracle re-derives from the
    coefficient formulas + the shared integer IDCT table at 2048/4095.
    A Pq parse, precision gate, or level-shift bug flips the hash.
    Row-local Arrow kernels."""
    from tinymapreduce_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = J12_W(d), J12_H(d)
                bw, bh = (w + 7) // 8, (h + 7) // 8
                blocks = [_j12_block(d, b) for b in range(bw * bh)]
                payloads.append(
                    encode_jpeg(
                        w, h, J12_QT, [blocks], precision=12,
                        dri=2 if d % 3 == 0 else 0,
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "width": [], "height": [],
                "pixel_sum": [], "min_pixel": [], "max_pixel": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h, planes = decode_jpeg(bytes(p))
                flat = [v for row in planes[0] for v in row]
                rows["doc_id"].append(int(d))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(sum(flat))
                rows["min_pixel"].append(min(flat))
                rows["max_pixel"].append(max(flat))
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, width long, height long, pixel_sum long,"
            " min_pixel long, max_pixel long"
        ),
    )


def _jpeg12_decode_sql() -> str:
    from tinymapreduce_spark.functions.jpegcodec import (
        IDCT_OUT_SHIFT,
        IDCT_ROUND,
        IDCT_T,
    )

    tvals = ", ".join(
        f"({u}, {x}, {IDCT_T[u][x]})" for u in range(8) for x in range(8)
    )
    coefs = ", ".join(
        f"({r}, {c}, {expr}, {J12_QT[r * 8 + c]})"
        for (r, c), expr in {
            (0, 0): "(doc_id + 5 * b) % 128 - 64",
            (0, 1): "(doc_id + 3 * b) % 31 - 15",
            (1, 0): "(2 * doc_id + b) % 21 - 10",
            (3, 2): "(doc_id * b + doc_id) % 13 - 6",
        }.items()
    )
    return f"""
WITH t(u, x, tv) AS (VALUES {tvals}),
dims AS (
  SELECT doc_id, 9 + doc_id % 13 AS w, 9 + (doc_id * 3) % 10 AS h
  FROM documents
), blocks AS (
  SELECT d.doc_id, d.w, d.h, bx.bx, by.by,
         by.by * ((d.w + 7) // 8) + bx.bx AS b
  FROM dims d,
       LATERAL (SELECT UNNEST(range(0, (d.w + 7) // 8)) AS bx) bx,
       LATERAL (SELECT UNNEST(range(0, (d.h + 7) // 8)) AS by) by
), coefs AS (
  SELECT doc_id, w, h, bx, by, cf.r, cf.c, cf.val * cf.q AS coef
  FROM blocks, LATERAL (VALUES {coefs}) cf(r, c, val, q)
), pix AS (
  SELECT doc_id, w, h, bx * 8 + xs.x AS ix, by * 8 + ys.y AS iy,
         LEAST(4095, GREATEST(0,
           2048 + CAST(floor((SUM(coef * tu.tv * tvv.tv) + {IDCT_ROUND})
                             / {1 << IDCT_OUT_SHIFT}.0) AS BIGINT))) AS p
  FROM coefs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS y) ys
  JOIN t tu ON tu.u = coefs.c AND tu.x = xs.x
  JOIN t tvv ON tvv.u = coefs.r AND tvv.x = ys.y
  GROUP BY doc_id, w, h, bx, by, xs.x, ys.y
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(p) AS BIGINT) AS pixel_sum,
       CAST(MIN(p) AS BIGINT) AS min_pixel,
       CAST(MAX(p) AS BIGINT) AS max_pixel
FROM pix
WHERE ix < w AND iy < h
GROUP BY doc_id, w, h
"""


JPEG12_DECODE_SQL = _jpeg12_decode_sql()


# --- Arithmetic-coded JPEG (SOF9) (round 7) ---------------------------------
# The QM coder (T.81 Annex D) + Annex F statistics model. Entropy layer
# is lossless over the quantized coefficients, so the oracle stays a
# pure dequant + integer-IDCT replay; the Kx conditioning bound cycles
# so the AC context split (k <= Kx vs >) is exercised at both extremes.
JA_W = lambda d: 8 + d % 12  # noqa: E731
JA_H = lambda d: 8 + (5 * d) % 9  # noqa: E731
JA_QT = [1 + (r + 2 * c) % 5 for r in range(8) for c in range(8)]
JA_KX = (1, 5, 20, 63)


def _ja_block(d: int, b: int) -> list[list[int]]:
    blk = [[0] * 8 for _ in range(8)]
    blk[0][0] = (d + 5 * b) % 32 - 16
    blk[0][1] = (d + 3 * b) % 15 - 7
    blk[1][0] = (2 * d + b) % 11 - 5
    blk[3][2] = (d * b + d) % 7 - 3
    return blk


def jpeg_arith_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL arithmetic-coded JPEG decode over BinaryType: one SOF9
    frame per document (DAC conditioning written explicitly, Kx cycling
    1/5/20/63 by doc_id % 4), decoded through the from-scratch QM coder
    (Table D.3 state machine, byte stuffing, 0xFF carry stacking,
    marker zero-padding) and the Annex F DC/AC context model, then
    dequant + the shared integer IDCT. A Qe-table, conditional-
    exchange, context-layout or conditioning-split bug flips the hash.
    Row-local Arrow kernels; pixels never shuffle."""
    from tinymapreduce_spark.functions.jpegarith import (
        decode_jpeg_arith,
        encode_jpeg_arith,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = JA_W(d), JA_H(d)
                bw, bh = (w + 7) // 8, (h + 7) // 8
                blocks = [_ja_block(d, b) for b in range(bw * bh)]
                payloads.append(
                    encode_jpeg_arith(w, h, JA_QT, blocks, kx=JA_KX[d % 4])
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "kx": [], "width": [], "height": [],
                "pixel_sum": [], "min_pixel": [], "max_pixel": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                d = int(d)
                w, h, px = decode_jpeg_arith(bytes(p))
                flat = [v for row in px for v in row]
                rows["doc_id"].append(d)
                rows["kx"].append(JA_KX[d % 4])
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(sum(flat))
                rows["min_pixel"].append(min(flat))
                rows["max_pixel"].append(max(flat))
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, kx long, width long, height long,"
            " pixel_sum long, min_pixel long, max_pixel long"
        ),
    )


def _jpeg_arith_decode_sql() -> str:
    from tinymapreduce_spark.functions.jpegcodec import (
        IDCT_OUT_SHIFT,
        IDCT_ROUND,
        IDCT_T,
    )

    tvals = ", ".join(
        f"({u}, {x}, {IDCT_T[u][x]})" for u in range(8) for x in range(8)
    )
    coefs = ", ".join(
        f"({r}, {c}, {expr}, {JA_QT[r * 8 + c]})"
        for (r, c), expr in {
            (0, 0): "(doc_id + 5 * b) % 32 - 16",
            (0, 1): "(doc_id + 3 * b) % 15 - 7",
            (1, 0): "(2 * doc_id + b) % 11 - 5",
            (3, 2): "(doc_id * b + doc_id) % 7 - 3",
        }.items()
    )
    return f"""
WITH t(u, x, tv) AS (VALUES {tvals}),
dims AS (
  SELECT doc_id, 8 + doc_id % 12 AS w, 8 + (doc_id * 5) % 9 AS h
  FROM documents
), blocks AS (
  SELECT d.doc_id, d.w, d.h, bx.bx, by.by,
         by.by * ((d.w + 7) // 8) + bx.bx AS b
  FROM dims d,
       LATERAL (SELECT UNNEST(range(0, (d.w + 7) // 8)) AS bx) bx,
       LATERAL (SELECT UNNEST(range(0, (d.h + 7) // 8)) AS by) by
), coefs AS (
  SELECT doc_id, w, h, bx, by, cf.r, cf.c, cf.val * cf.q AS coef
  FROM blocks, LATERAL (VALUES {coefs}) cf(r, c, val, q)
), pix AS (
  SELECT doc_id, w, h, bx * 8 + xs.x AS ix, by * 8 + ys.y AS iy,
         LEAST(255, GREATEST(0,
           128 + CAST(floor((SUM(coef * tu.tv * tvv.tv) + {IDCT_ROUND})
                            / {1 << IDCT_OUT_SHIFT}.0) AS BIGINT))) AS p
  FROM coefs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS y) ys
  JOIN t tu ON tu.u = coefs.c AND tu.x = xs.x
  JOIN t tvv ON tvv.u = coefs.r AND tvv.x = ys.y
  GROUP BY doc_id, w, h, bx, by, xs.x, ys.y
)
SELECT doc_id,
       CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 5 WHEN 2 THEN 20
            ELSE 63 END AS BIGINT) AS kx,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(p) AS BIGINT) AS pixel_sum,
       CAST(MIN(p) AS BIGINT) AS min_pixel,
       CAST(MAX(p) AS BIGINT) AS max_pixel
FROM pix
WHERE ix < w AND iy < h
GROUP BY doc_id, w, h
"""


JPEG_ARITH_DECODE_SQL = _jpeg_arith_decode_sql()


# --- Hierarchical lossless JPEG (Annex J) (round 7) -------------------------
# Two-level pyramid: decimated SOF3 reference, EXP (a+b+1)>>1 separable
# expansion, SOF7 differential frame. The oracle independently replays
# decimation + BOTH interpolation passes + the modulo-2^16 difference,
# so the EXP machinery itself is hash-verified, not just the roundtrip.
JH_W = lambda d: 9 + d % 10  # noqa: E731
JH_H = lambda d: 7 + (3 * d) % 9  # noqa: E731


def jpeg_hier_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL hierarchical-JPEG decode over BinaryType: per document one
    DHP/SOF3/EXP/SOF7 stream (spatial predictor of the reference frame
    cycling 1..7), decoded through the pyramid walk, with the encoder's
    differential layer statistics emitted alongside — pixel_sum checks
    the end-to-end reconstruction, ref_sum the decimation, diff stats
    the expansion filter (the oracle recomputes all three from the
    pixel formula alone). Row-local Arrow kernels."""
    from tinymapreduce_spark.functions.jpegcodec import (
        _exp_expand,
        decode_jpeg_hier_lossless,
        encode_jpeg_hier_lossless,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "width": [], "height": [], "pixel_sum": [],
                "ref_sum": [], "diff_abs_sum": [], "max_abs_diff": [],
            }
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = JH_W(d), JH_H(d)
                px = [[(11 * d + 7 * x + 13 * y + x * y) % 256
                       for x in range(w)] for y in range(h)]
                blob = encode_jpeg_hier_lossless(
                    w, h, px, predictor=1 + d % 7
                )
                w2, h2, back = decode_jpeg_hier_lossless(blob)
                if (w2, h2, back) != (w, h, px):
                    raise ValueError(f"hierarchical roundtrip broke on {d}")
                rw, rh = (w + 1) // 2, (h + 1) // 2
                ref = [[px[2 * y][2 * x] for x in range(rw)]
                       for y in range(rh)]
                exp = _exp_expand(ref, w, h)
                diffs = [
                    ((px[y][x] - exp[y][x] + 32768) & 0xFFFF) - 32768
                    for y in range(h) for x in range(w)
                ]
                rows["doc_id"].append(d)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(sum(v for r in back for v in r))
                rows["ref_sum"].append(sum(v for r in ref for v in r))
                rows["diff_abs_sum"].append(sum(abs(v) for v in diffs))
                rows["max_abs_diff"].append(max(abs(v) for v in diffs))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        roundtrip,
        schema=(
            "doc_id long, width long, height long, pixel_sum long,"
            " ref_sum long, diff_abs_sum long, max_abs_diff long"
        ),
    )


# PIX(x,y) = (11d + 7x + 13y + xy) % 256; ref(a,b) = PIX(2a,2b);
# hx = horizontal pass, e = vertical pass over hx — all pure formula.
JPEG_HIER_DECODE_SQL = """
WITH dims AS (
  SELECT doc_id, 9 + doc_id % 10 AS w, 7 + (3 * doc_id) % 9 AS h,
         (9 + doc_id % 10 + 1) // 2 AS rw, (7 + (3 * doc_id) % 9 + 1) // 2 AS rh
  FROM documents
), px AS (
  SELECT doc_id, w, h, rw, rh, x.x, y.y,
         (11 * doc_id + 7 * x.x + 13 * y.y + x.x * y.y) % 256 AS v
  FROM dims,
       LATERAL (SELECT UNNEST(range(0, w)) AS x) x,
       LATERAL (SELECT UNNEST(range(0, h)) AS y) y
), expd AS (
  SELECT doc_id, w, h, x, y, v,
         -- horizontal pass at the two contributing reference rows,
         -- then the vertical combine; ref(a,b) inlined as the formula
         CASE WHEN y % 2 = 0 THEN
           CASE WHEN x % 2 = 0
                THEN (11 * doc_id + 7 * (2*(x//2)) + 13 * (2*(y//2))
                      + (2*(x//2)) * (2*(y//2))) % 256
                ELSE ((11 * doc_id + 7 * (2*((x-1)//2)) + 13 * (2*(y//2))
                       + (2*((x-1)//2)) * (2*(y//2))) % 256
                      + (11 * doc_id + 7 * (2*(LEAST((x+1)//2, rw-1)))
                         + 13 * (2*(y//2))
                         + (2*(LEAST((x+1)//2, rw-1))) * (2*(y//2))) % 256
                      + 1) // 2
           END
         ELSE
           (CASE WHEN x % 2 = 0
                 THEN (11 * doc_id + 7 * (2*(x//2)) + 13 * (2*((y-1)//2))
                       + (2*(x//2)) * (2*((y-1)//2))) % 256
                 ELSE ((11 * doc_id + 7 * (2*((x-1)//2)) + 13 * (2*((y-1)//2))
                        + (2*((x-1)//2)) * (2*((y-1)//2))) % 256
                       + (11 * doc_id + 7 * (2*(LEAST((x+1)//2, rw-1)))
                          + 13 * (2*((y-1)//2))
                          + (2*(LEAST((x+1)//2, rw-1))) * (2*((y-1)//2))) % 256
                       + 1) // 2
            END
            + CASE WHEN x % 2 = 0
                 THEN (11 * doc_id + 7 * (2*(x//2))
                       + 13 * (2*(LEAST((y+1)//2, rh-1)))
                       + (2*(x//2)) * (2*(LEAST((y+1)//2, rh-1)))) % 256
                 ELSE ((11 * doc_id + 7 * (2*((x-1)//2))
                        + 13 * (2*(LEAST((y+1)//2, rh-1)))
                        + (2*((x-1)//2)) * (2*(LEAST((y+1)//2, rh-1)))) % 256
                       + (11 * doc_id + 7 * (2*(LEAST((x+1)//2, rw-1)))
                          + 13 * (2*(LEAST((y+1)//2, rh-1)))
                          + (2*(LEAST((x+1)//2, rw-1)))
                            * (2*(LEAST((y+1)//2, rh-1)))) % 256
                       + 1) // 2
            END
            + 1) // 2
         END AS e
  FROM px
), diffs AS (
  SELECT doc_id, w, h, x, y, v,
         ((v - e + 32768) % 65536 + 65536) % 65536 - 32768 AS dd
  FROM expd
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(SUM(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN v ELSE 0 END)
            AS BIGINT) AS ref_sum,
       CAST(SUM(ABS(dd)) AS BIGINT) AS diff_abs_sum,
       CAST(MAX(ABS(dd)) AS BIGINT) AS max_abs_diff
FROM diffs
GROUP BY doc_id, w, h
"""


# --- IMA ADPCM (WAV format 0x11) (round 7) ----------------------------------
# The lossy audio-codec representative: 4-bit differential coding with
# the 89-entry step table and the {-1,-1,-1,-1,2,4,6,8} index walk (IMA
# "Recommended Practices", the format Microsoft registered as WAV
# 0x0011). Blocks carry (predictor, index) in their header; this
# encoder RESETS both per block from formulas, so every block replays
# independently — the oracle unrolls all 8 nibble steps as chained SQL
# CTEs against the step table. Nothing is approximated: the decoded
# waveform, the nibble stream and the reconstruction error are all
# integer-exact on both sides.
IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
IMA_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]
IMA_BLOCK_SAMPLES = 9  # 1 header sample + 8 coded nibbles = 4 data bytes


def _ima_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    """Decoder state transition for one 4-bit code (shared by encode —
    the encoder mirrors the decoder so both stay in lockstep)."""
    step = IMA_STEPS[index]
    m = nibble & 7
    diff = step >> 3
    if m & 4:
        diff += step
    if m & 2:
        diff += step >> 1
    if m & 1:
        diff += step >> 2
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + IMA_INDEX_ADJ[m]))
    return pred, index


def _ima_encode_nibble(sample: int, pred: int, index: int) -> int:
    step = IMA_STEPS[index]
    diff = sample - pred
    nibble = 8 if diff < 0 else 0
    if diff < 0:
        diff = -diff
    if diff >= step:
        nibble |= 4
        diff -= step
    if diff >= step >> 1:
        nibble |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        nibble |= 1
    return nibble


def encode_wav_ima(samples: list[int], block_indices: list[int],
                   sample_rate: int = 8000) -> bytes:
    """RIFF/WAVE writer for mono IMA ADPCM (format 0x11), 9 samples per
    block: block header = (first sample as the predictor, the given
    initial step index, reserved 0), then 8 nibbles packed low-first.
    ``block_indices[b]`` seeds block b's step index (header-carried, so
    any choice is legal — formula-seeded here for block independence)."""
    import struct

    n_blocks = len(samples) // IMA_BLOCK_SAMPLES
    if len(samples) != n_blocks * IMA_BLOCK_SAMPLES or n_blocks != len(block_indices):
        raise ValueError("samples must fill whole 9-sample blocks")
    block_align = 8  # 4 header bytes + 4 nibble bytes
    data = bytearray()
    for b in range(n_blocks):
        blk = samples[b * IMA_BLOCK_SAMPLES : (b + 1) * IMA_BLOCK_SAMPLES]
        pred, index = blk[0], block_indices[b]
        data += struct.pack("<hBB", pred, index, 0)
        nibbles = []
        for s in blk[1:]:
            nib = _ima_encode_nibble(s, pred, index)
            pred, index = _ima_step(pred, index, nib)
            nibbles.append(nib)
        for i in range(0, 8, 2):
            data.append(nibbles[i] | (nibbles[i + 1] << 4))
    byte_rate = sample_rate * block_align // IMA_BLOCK_SAMPLES
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate, byte_rate, block_align, 4, 2,
        IMA_BLOCK_SAMPLES,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + bytes(data)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_ima(payload: bytes):
    """Decode a mono IMA-ADPCM WAV -> (sample_rate, samples). Walks the
    RIFF chunks, requires format 0x11 with 9 samples/block, and runs
    the step/index state machine per block."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, sample_rate, data, ok = 12, None, None, False
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        if cid == b"fmt ":
            fmt_tag, channels, sample_rate = struct.unpack_from(
                "<HHI", payload, pos + 8
            )
            if fmt_tag != 0x11 or channels != 1:
                raise ValueError("not mono IMA ADPCM (format 0x11)")
            spb = struct.unpack_from("<H", payload, pos + 8 + 18)[0]
            if spb != IMA_BLOCK_SAMPLES:
                raise ValueError(f"samples/block {spb} unsupported")
            ok = True
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size % 2)
    if not ok or data is None or sample_rate is None:
        raise ValueError("missing fmt/data chunk")
    out: list[int] = []
    for at in range(0, len(data), 8):
        blk = data[at : at + 8]
        if len(blk) < 8:
            raise ValueError("truncated ADPCM block")
        pred, index, resv = struct.unpack("<hBB", blk[:4])
        if index > 88 or resv != 0:
            raise ValueError("corrupt ADPCM block header")
        out.append(pred)
        for byte in blk[4:]:
            for nib in (byte & 0xF, byte >> 4):
                pred, index = _ima_step(pred, index, nib)
                out.append(pred)
    return sample_rate, out


# query: formula-generated int16 "noise" (hard case for ADPCM — only
# exactness matters), blocks seeded (d + b) % 89, 5 + d%6 blocks/doc.
IMA_NB = lambda d: 5 + d % 6  # noqa: E731
IMA_SAMPLE = lambda d, t: ((7919 * (d + 3) * (t + 7)) % 65536) - 32768  # noqa: E731


def audio_adpcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-audio codec over BinaryType: per document a mono IMA
    ADPCM WAV (format 0x11) encoded from formula int16 samples and
    decoded back through the RIFF walk + the 89-step state machine,
    reduced to exact integers: the decoded waveform sum, the 4-bit
    nibble stream sum (read back from the container bytes), and the
    reconstruction error. The oracle unrolls all 8 nibble steps per
    block as chained SQL CTEs against the step table — encoder
    quantization, decoder reconstruction and both clamps replayed
    bit-exactly. Row-local Arrow kernels."""
    import struct

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "n_blocks": [], "decoded_sum": [],
                "nibble_sum": [], "abs_err_sum": [], "max_abs_err": [],
            }
            for d in pdf["doc_id"]:
                d = int(d)
                nb = IMA_NB(d)
                samples = [IMA_SAMPLE(d, t) for t in range(9 * nb)]
                idxs = [(d + b) % 89 for b in range(nb)]
                blob = encode_wav_ima(samples, idxs)
                sr, got = decode_wav_ima(blob)
                at = blob.index(b"data") + 8
                nib_sum = 0
                for b in range(nb):
                    for byte in blob[at + 8 * b + 4 : at + 8 * b + 8]:
                        nib_sum += (byte & 0xF) + (byte >> 4)
                errs = [
                    abs(samples[9 * b + 1 + k] - got[9 * b + 1 + k])
                    for b in range(nb) for k in range(8)
                ]
                rows["doc_id"].append(d)
                rows["n_blocks"].append(nb)
                rows["decoded_sum"].append(sum(got))
                rows["nibble_sum"].append(nib_sum)
                rows["abs_err_sum"].append(sum(errs))
                rows["max_abs_err"].append(max(errs))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        schema=(
            "doc_id long, n_blocks long, decoded_sum long,"
            " nibble_sum long, abs_err_sum long, max_abs_err long"
        ),
    )


def _ima_sql() -> str:
    steps = ", ".join(f"({i}, {s})" for i, s in enumerate(IMA_STEPS))
    chain = []
    prev = "s0"
    for k in range(1, 9):
        chain.append(f""",
s{k} AS (
  SELECT p.doc_id, p.b, p.pred, p.idx, p.dsum, p.nsum, p.esum, p.emax,
         t.st,
         ((7919 * (p.doc_id + 3) * (9 * p.b + {k} + 7)) % 65536) - 32768
           AS tgt,
         tgt - p.pred AS diff,
         CASE WHEN diff < 0 THEN 8 ELSE 0 END AS sgn,
         CASE WHEN diff < 0 THEN -diff ELSE diff END AS ad,
         CASE WHEN ad >= st THEN 1 ELSE 0 END AS b4,
         ad - st * b4 AS ad2,
         CASE WHEN ad2 >= st // 2 THEN 1 ELSE 0 END AS b2,
         ad2 - (st // 2) * b2 AS ad3,
         CASE WHEN ad3 >= st // 4 THEN 1 ELSE 0 END AS b1,
         4 * b4 + 2 * b2 + b1 AS m,
         st // 8 + st * b4 + (st // 2) * b2 + (st // 4) * b1 AS diffr,
         LEAST(32767, GREATEST(-32768,
           CASE WHEN sgn = 8 THEN p.pred - diffr ELSE p.pred + diffr END))
           AS npred,
         LEAST(88, GREATEST(0, p.idx +
           CASE WHEN m < 4 THEN -1 WHEN m = 4 THEN 2 WHEN m = 5 THEN 4
                WHEN m = 6 THEN 6 ELSE 8 END)) AS nidx
  FROM {prev} p JOIN steptab t ON t.i = p.idx
), s{k}x AS (
  SELECT doc_id, b, npred AS pred, nidx AS idx,
         dsum + npred AS dsum, nsum + sgn + m AS nsum,
         esum + ABS(tgt - npred) AS esum,
         GREATEST(emax, ABS(tgt - npred)) AS emax
  FROM s{k}
)""")
        prev = f"s{k}x"
    return f"""
WITH steptab(i, st) AS (VALUES {steps}),
blocks AS (
  SELECT doc_id, 5 + doc_id % 6 AS nb FROM documents
), s0 AS (
  SELECT doc_id, b.b,
         ((7919 * (doc_id + 3) * (9 * b.b + 7)) % 65536) - 32768 AS pred,
         (doc_id + b.b) % 89 AS idx,
         CAST(((7919 * (doc_id + 3) * (9 * b.b + 7)) % 65536) - 32768
              AS BIGINT) AS dsum,
         CAST(0 AS BIGINT) AS nsum, CAST(0 AS BIGINT) AS esum,
         CAST(0 AS BIGINT) AS emax
  FROM blocks, LATERAL (SELECT UNNEST(range(0, nb)) AS b) b
){"".join(chain)}
SELECT doc_id,
       CAST(5 + doc_id % 6 AS BIGINT) AS n_blocks,
       CAST(SUM(dsum) AS BIGINT) AS decoded_sum,
       CAST(SUM(nsum) AS BIGINT) AS nibble_sum,
       CAST(SUM(esum) AS BIGINT) AS abs_err_sum,
       CAST(MAX(emax) AS BIGINT) AS max_abs_err
FROM {prev}
GROUP BY doc_id
"""


AUDIO_ADPCM_SQL = _ima_sql()


# --- Parquet encoding layer (round 7) ---------------------------------------
# The engine's own storage-format encodings, from the public spec,
# surfaced as a verifiable rung. Value formula mixes phases so both
# section kinds carry traffic: 32-value constant runs (RLE sections)
# alternating with within-group variation (bit-packed sections), plus
# a partial tail group on most docs (final zero-padding path).
PQ_BW = lambda d: 4 + d % 8  # noqa: E731
PQ_NG = lambda d: 20 + d % 11  # full groups of 8  # noqa: E731
PQ_TAIL = lambda d: d % 8  # extra tail values  # noqa: E731


def _pq_value(d: int, t: int, bw: int) -> int:
    phase = (t // 32) % 2
    return (d * 13 + (((t // 8) % 7) + (t % 8)) * phase) % (1 << bw)


def columnar_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL storage-format encode/decode over formula int columns: per
    document the Parquet RLE/bit-packing hybrid (8-aligned policy) and
    DELTA_BINARY_PACKED streams are written from scratch, decoded back
    (roundtrip asserted in-kernel), and their exact byte lengths
    emitted. The oracle re-derives BOTH lengths in SQL — the hybrid's
    via gaps-and-islands over 8-value groups (RLE islands, capped
    bit-packed sections, tail merge), the delta's via per-miniblock
    max bit widths — so a header, packing or section-policy bug flips
    the hash. Row-local Arrow kernels."""
    from tinymapreduce_spark.functions.parquet_enc import (
        delta_binary_packed_decode,
        delta_binary_packed_encode,
        lz4_compress,
        lz4_decompress,
        rle_hybrid_decode,
        rle_hybrid_encode,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "n_values": [], "bit_width": [],
                "hybrid_bytes": [], "delta_bytes": [], "value_sum": [],
                "lz4_ok": [],
            }
            for d in pdf["doc_id"]:
                d = int(d)
                bw = PQ_BW(d)
                n = 8 * PQ_NG(d) + PQ_TAIL(d)
                vals = [_pq_value(d, t, bw) for t in range(n)]
                hyb = rle_hybrid_encode(vals, bw)
                if rle_hybrid_decode(hyb, bw, n) != vals:
                    raise ValueError(f"hybrid roundtrip broke on doc {d}")
                dl = delta_binary_packed_encode(vals)
                if delta_binary_packed_decode(dl) != vals:
                    raise ValueError(f"delta roundtrip broke on doc {d}")
                # LZ4_RAW leg (the page-compression layer OVER the
                # encoding layer, as Parquet stacks them): roundtrip
                # both streams through the from-scratch block codec
                for stream in (hyb, dl):
                    if lz4_decompress(lz4_compress(stream),
                                      len(stream)) != stream:
                        raise ValueError(f"lz4 roundtrip broke on doc {d}")
                rows["doc_id"].append(d)
                rows["n_values"].append(n)
                rows["bit_width"].append(bw)
                rows["hybrid_bytes"].append(len(hyb))
                rows["delta_bytes"].append(len(dl))
                rows["value_sum"].append(sum(vals))
                rows["lz4_ok"].append(True)
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        schema=(
            "doc_id long, n_values long, bit_width long,"
            " hybrid_bytes long, delta_bytes long, value_sum long,"
            " lz4_ok boolean"
        ),
    )


# SQL replay: uleb(x) lengths inlined as CASE (all quantities < 2^21
# here); bit lengths via length(bin(v)) (no leading zeros for v > 0).
COLUMNAR_ENCODING_SQL = """
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 8 AS bw,
         8 * (20 + doc_id % 11) + doc_id % 8 AS n,
         20 + doc_id % 11 AS ng
  FROM documents
), vals AS (
  SELECT doc_id, bw, n, ng, t.t,
         (doc_id * 13 + (((t.t // 8) % 7) + (t.t % 8))
          * ((t.t // 32) % 2)) % (1 << bw) AS v
  FROM dims, LATERAL (SELECT UNNEST(range(0, n)) AS t) t
), grp AS (  -- full 8-groups only; the tail is handled separately
  SELECT doc_id, bw, ng, t // 8 AS g,
         CASE WHEN MIN(v) = MAX(v) THEN 1 ELSE 0 END AS uni,
         MIN(v) AS gv
  FROM vals WHERE t // 8 < ng
  GROUP BY doc_id, bw, ng, t // 8
), isl AS (  -- islands of consecutive groups with same (uni, value)
  SELECT doc_id, bw, ng, g, uni, gv,
         g - ROW_NUMBER() OVER (
           PARTITION BY doc_id, uni, gv ORDER BY g) AS island
  FROM grp
), rle_secs AS (  -- one RLE section per uniform island: uleb((8k)<<1)+vbytes
  SELECT doc_id, COUNT(*) AS k,
         (CASE WHEN 16 * COUNT(*) < 128 THEN 1 ELSE 2 END)
         + (bw + 7) // 8 AS bytes
  FROM isl WHERE uni = 1
  GROUP BY doc_id, bw, gv, island
), bp_isl AS (  -- islands of consecutive NON-uniform groups
  SELECT doc_id, bw, ng, g,
         g - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY g) AS island
  FROM grp WHERE uni = 0
), bp_secs AS (
  SELECT doc_id, bw, island, COUNT(*) AS m, MAX(g) AS last_g, ANY_VALUE(ng) AS ng
  FROM bp_isl
  GROUP BY doc_id, bw, island
), tailinfo AS (
  SELECT d.doc_id, d.bw, d.ng, d.n - 8 * d.ng AS tail_n,
         COALESCE((SELECT uni FROM grp
                   WHERE grp.doc_id = d.doc_id AND grp.g = d.ng - 1), 1)
           AS last_uni
  FROM dims d
), bp_bytes AS (
  -- each bit-packed island: ceil(m/63) headers + m*bw bytes; the tail
  -- group joins the LAST island iff it is adjacent (last group
  -- non-uniform), else forms its own 1-group section
  SELECT t.doc_id,
         COALESCE(SUM(
           CASE WHEN t.tail_n > 0 AND t.last_uni = 0 AND s.last_g = t.ng - 1
                THEN ((s.m + 1 + 62) // 63) + (s.m + 1) * t.bw
                ELSE ((s.m + 62) // 63) + s.m * t.bw
           END), 0)
         + CASE WHEN t.tail_n > 0 AND t.last_uni = 1
                THEN 1 + t.bw ELSE 0 END AS bytes
  FROM tailinfo t LEFT JOIN bp_secs s USING (doc_id)
  GROUP BY t.doc_id, t.tail_n, t.last_uni, t.ng, t.bw
), hybrid AS (
  SELECT d.doc_id,
         COALESCE((SELECT SUM(bytes) FROM rle_secs r
                   WHERE r.doc_id = d.doc_id), 0)
         + COALESCE((SELECT bytes FROM bp_bytes b
                     WHERE b.doc_id = d.doc_id), 0) AS hybrid_bytes
  FROM dims d
), deltas AS (
  SELECT doc_id, bw, n, t,
         v - LAG(v) OVER (PARTITION BY doc_id ORDER BY t) AS dlt
  FROM vals
), blocks AS (
  SELECT doc_id, (t - 1) // 128 AS blk, MIN(dlt) AS mind,
         COUNT(*) AS in_block
  FROM deltas WHERE t > 0
  GROUP BY doc_id, (t - 1) // 128
), mini AS (
  SELECT d.doc_id, (d.t - 1) // 128 AS blk, ((d.t - 1) % 128) // 32 AS mb,
         MAX(CASE WHEN d.dlt - b.mind = 0 THEN 0
                  ELSE length(bin(d.dlt - b.mind)) END) AS mbw
  FROM deltas d JOIN blocks b
    ON b.doc_id = d.doc_id AND b.blk = (d.t - 1) // 128
  WHERE d.t > 0
  GROUP BY d.doc_id, (d.t - 1) // 128, ((d.t - 1) % 128) // 32
), blockbytes AS (
  SELECT b.doc_id, b.blk,
         -- zigzag(mind) uleb length (|mind| < 2^20 here)
         (CASE WHEN (CASE WHEN b.mind >= 0 THEN 2 * b.mind
                          ELSE -2 * b.mind - 1 END) < 128 THEN 1
               WHEN (CASE WHEN b.mind >= 0 THEN 2 * b.mind
                          ELSE -2 * b.mind - 1 END) < 16384 THEN 2
               ELSE 3 END)
         + 4  -- one width byte per miniblock
         + (SELECT COALESCE(SUM(4 * m.mbw), 0) FROM mini m
            WHERE m.doc_id = b.doc_id AND m.blk = b.blk
              AND m.mb < (b.in_block + 31) // 32) AS bytes
  FROM blocks b
), delta_len AS (
  SELECT d.doc_id,
         3  -- uleb(128) is two bytes + uleb(4) is one
         + (CASE WHEN d.n < 128 THEN 1 WHEN d.n < 16384 THEN 2
                 ELSE 3 END)
         + (CASE WHEN 2 * (SELECT v FROM vals vv
                           WHERE vv.doc_id = d.doc_id AND vv.t = 0) < 128
                 THEN 1
                 WHEN 2 * (SELECT v FROM vals vv
                           WHERE vv.doc_id = d.doc_id AND vv.t = 0) < 16384
                 THEN 2 ELSE 3 END)
         + COALESCE((SELECT SUM(bytes) FROM blockbytes bb
                     WHERE bb.doc_id = d.doc_id), 0) AS delta_bytes
  FROM dims d
)
SELECT v.doc_id,
       CAST(ANY_VALUE(v.n) AS BIGINT) AS n_values,
       CAST(ANY_VALUE(v.bw) AS BIGINT) AS bit_width,
       CAST(ANY_VALUE(h.hybrid_bytes) AS BIGINT) AS hybrid_bytes,
       CAST(ANY_VALUE(dl.delta_bytes) AS BIGINT) AS delta_bytes,
       CAST(SUM(v.v) AS BIGINT) AS value_sum,
       TRUE AS lz4_ok
FROM vals v
JOIN hybrid h ON h.doc_id = v.doc_id
JOIN delta_len dl ON dl.doc_id = v.doc_id
GROUP BY v.doc_id
"""


# --- Hierarchical DCT (SOF5 differential) (round 7) -------------------------
# DHP / SOF0 half-res reference / EXP / SOF5 differential residual.
# Differential-frame rules live in the codec (DC without prediction,
# signed residual IDCT); the oracle replays BOTH IDCTs, the 4-neighbor
# EXP interpolation and the final clamp.
JHD_W = lambda d: 18 + d % 9  # noqa: E731
JHD_H = lambda d: 16 + (3 * d) % 9  # noqa: E731
JHD_QT = [1 + (3 * i) % 7 for i in range(64)]
JHD_REF_COEF = {
    (0, 0): "(doc_id + 5 * b) % 32 - 16",
    (0, 1): "(doc_id + 3 * b) % 15 - 7",
    (1, 0): "(2 * doc_id + b) % 11 - 5",
}
JHD_DIFF_COEF = {
    (0, 0): "(doc_id + 3 * b) % 9 - 4",
    (0, 2): "(2 * doc_id + b) % 7 - 3",
    (2, 1): "(doc_id * b) % 5 - 2",
}


def _jhd_blocks(d: int, w: int, h: int, kind: str):
    bw, bh = (w + 7) // 8, (h + 7) // 8
    out = []
    for b in range(bw * bh):
        blk = [[0] * 8 for _ in range(8)]
        if kind == "ref":
            blk[0][0] = (d + 5 * b) % 32 - 16
            blk[0][1] = (d + 3 * b) % 15 - 7
            blk[1][0] = (2 * d + b) % 11 - 5
        else:
            blk[0][0] = (d + 3 * b) % 9 - 4
            blk[0][2] = (2 * d + b) % 7 - 3
            blk[2][1] = (d * b) % 5 - 2
        out.append(blk)
    return out


def jpeg_hier_dct_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL hierarchical-DCT decode over BinaryType: per document one
    DHP/SOF0/EXP pyramid whose differential frame alternates SOF5
    (sequential residual scan, even docs) and SOF6 (the PROGRESSIVE
    five-scan script over the residual, odd docs) — both with DC
    PREDICTION DISABLED per the differential-frame rule; the reference
    renders with the normal level shift + clamp, expands per J.1.1.2,
    and the residual adds unclamped before the final 0..255 clamp.
    Exact pixel statistics; the oracle replays both integer IDCTs, the
    4-neighbor interpolation and the clamps (frame type cannot change
    pixels — SOF6 == SOF5 for identical coefficients, pinned in
    pytest). Row-local Arrow kernels."""
    from tinymapreduce_spark.functions.jpegcodec import (
        decode_jpeg_hier_dct,
        encode_jpeg_hier_dct,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "progressive": [], "width": [], "height": [],
                "pixel_sum": [], "min_pixel": [], "max_pixel": [],
            }
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = JHD_W(d), JHD_H(d)
                rw, rh = (w + 1) // 2, (h + 1) // 2
                blob = encode_jpeg_hier_dct(
                    w, h, JHD_QT,
                    _jhd_blocks(d, rw, rh, "ref"),
                    _jhd_blocks(d, w, h, "diff"),
                    progressive=bool(d % 2),
                )
                w2, h2, px = decode_jpeg_hier_dct(blob)
                flat = [v for row in px for v in row]
                rows["progressive"].append(d % 2)
                rows["doc_id"].append(d)
                rows["width"].append(w2)
                rows["height"].append(h2)
                rows["pixel_sum"].append(sum(flat))
                rows["min_pixel"].append(min(flat))
                rows["max_pixel"].append(max(flat))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        roundtrip,
        schema=(
            "doc_id long, progressive long, width long, height long,"
            " pixel_sum long, min_pixel long, max_pixel long"
        ),
    )


def _jpeg_hier_dct_sql() -> str:
    from tinymapreduce_spark.functions.jpegcodec import (
        IDCT_OUT_SHIFT,
        IDCT_ROUND,
        IDCT_T,
    )

    tvals = ", ".join(
        f"({u}, {x}, {IDCT_T[u][x]})" for u in range(8) for x in range(8)
    )
    refcoefs = ", ".join(
        f"({r}, {c}, {expr}, {JHD_QT[r * 8 + c]})"
        for (r, c), expr in JHD_REF_COEF.items()
    )
    diffcoefs = ", ".join(
        f"({r}, {c}, {expr}, {JHD_QT[r * 8 + c]})"
        for (r, c), expr in JHD_DIFF_COEF.items()
    )
    return f"""
WITH t(u, x, tv) AS (VALUES {tvals}),
dims AS (
  SELECT doc_id, 18 + doc_id % 9 AS w, 16 + (3 * doc_id) % 9 AS h,
         (18 + doc_id % 9 + 1) // 2 AS rw,
         (16 + (3 * doc_id) % 9 + 1) // 2 AS rh
  FROM documents
), refblocks AS (
  SELECT doc_id, w, h, rw, rh, bx.bx, by.by,
         by.by * ((rw + 7) // 8) + bx.bx AS b
  FROM dims,
       LATERAL (SELECT UNNEST(range(0, (rw + 7) // 8)) AS bx) bx,
       LATERAL (SELECT UNNEST(range(0, (rh + 7) // 8)) AS by) by
), refcoefs AS (
  SELECT doc_id, rw, rh, bx, by, cf.r, cf.c, cf.val * cf.q AS coef
  FROM refblocks, LATERAL (VALUES {refcoefs}) cf(r, c, val, q)
), refpix AS (
  SELECT doc_id, bx * 8 + xs.x AS rx, by * 8 + ys.y AS ry,
         LEAST(255, GREATEST(0,
           128 + CAST(floor((SUM(coef * tu.tv * tvv.tv) + {IDCT_ROUND})
                            / {1 << IDCT_OUT_SHIFT}.0) AS BIGINT))) AS rp
  FROM refcoefs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS y) ys
  JOIN t tu ON tu.u = refcoefs.c AND tu.x = xs.x
  JOIN t tvv ON tvv.u = refcoefs.r AND tvv.x = ys.y
  WHERE bx * 8 + xs.x < rw AND by * 8 + ys.y < rh
  GROUP BY doc_id, bx, by, xs.x, ys.y
), diffblocks AS (
  SELECT doc_id, w, h, bx.bx, by.by,
         by.by * ((w + 7) // 8) + bx.bx AS b
  FROM dims,
       LATERAL (SELECT UNNEST(range(0, (w + 7) // 8)) AS bx) bx,
       LATERAL (SELECT UNNEST(range(0, (h + 7) // 8)) AS by) by
), diffcoefs AS (
  SELECT doc_id, w, h, bx, by, cf.r, cf.c, cf.val * cf.q AS coef
  FROM diffblocks, LATERAL (VALUES {diffcoefs}) cf(r, c, val, q)
), diffpix AS (
  SELECT doc_id, w, h, bx * 8 + xs.x AS x, by * 8 + ys.y AS y,
         CAST(floor((SUM(coef * tu.tv * tvv.tv) + {IDCT_ROUND})
                    / {1 << IDCT_OUT_SHIFT}.0) AS BIGINT) AS dp
  FROM diffcoefs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS y) ys
  JOIN t tu ON tu.u = diffcoefs.c AND tu.x = xs.x
  JOIN t tvv ON tvv.u = diffcoefs.r AND tvv.x = ys.y
  WHERE bx * 8 + xs.x < w AND by * 8 + ys.y < h
  GROUP BY doc_id, w, h, bx, by, xs.x, ys.y
), coords AS (
  SELECT d.doc_id, d.w, d.h, d.rw, d.rh, p.x, p.y, p.dp,
         CASE WHEN p.x % 2 = 0 THEN p.x // 2 ELSE (p.x - 1) // 2 END AS a0,
         CASE WHEN p.x % 2 = 0 THEN p.x // 2
              ELSE LEAST((p.x + 1) // 2, d.rw - 1) END AS a1,
         CASE WHEN p.y % 2 = 0 THEN p.y // 2 ELSE (p.y - 1) // 2 END AS b0,
         CASE WHEN p.y % 2 = 0 THEN p.y // 2
              ELSE LEAST((p.y + 1) // 2, d.rh - 1) END AS b1
  FROM dims d JOIN diffpix p USING (doc_id)
), expd AS (
  SELECT c.doc_id, c.w, c.h, c.x, c.y, c.dp,
         CASE WHEN c.y % 2 = 0
              THEN CASE WHEN c.x % 2 = 0 THEN r00.rp
                        ELSE (r00.rp + r10.rp + 1) // 2 END
              ELSE (CASE WHEN c.x % 2 = 0 THEN r00.rp
                         ELSE (r00.rp + r10.rp + 1) // 2 END
                    + CASE WHEN c.x % 2 = 0 THEN r01.rp
                           ELSE (r01.rp + r11.rp + 1) // 2 END
                    + 1) // 2
         END AS e
  FROM coords c
  JOIN refpix r00 ON r00.doc_id = c.doc_id AND r00.rx = c.a0 AND r00.ry = c.b0
  JOIN refpix r10 ON r10.doc_id = c.doc_id AND r10.rx = c.a1 AND r10.ry = c.b0
  JOIN refpix r01 ON r01.doc_id = c.doc_id AND r01.rx = c.a0 AND r01.ry = c.b1
  JOIN refpix r11 ON r11.doc_id = c.doc_id AND r11.rx = c.a1 AND r11.ry = c.b1
)
SELECT doc_id,
       CAST(doc_id % 2 AS BIGINT) AS progressive,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(LEAST(255, GREATEST(0, e + dp))) AS BIGINT) AS pixel_sum,
       CAST(MIN(LEAST(255, GREATEST(0, e + dp))) AS BIGINT) AS min_pixel,
       CAST(MAX(LEAST(255, GREATEST(0, e + dp))) AS BIGINT) AS max_pixel
FROM expd
GROUP BY doc_id, w, h
"""


JPEG_HIER_DCT_DECODE_SQL = _jpeg_hier_dct_sql()


# --- Progressive arithmetic JPEG (SOF10) (round 7) --------------------------
JAP_W = lambda d: 8 + d % 10  # noqa: E731
JAP_H = lambda d: 8 + (7 * d) % 9  # noqa: E731


def jpeg_arith_prog_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive arithmetic-coded JPEG decode over BinaryType:
    one SOF10 stream per document (the classic five-scan script: DC
    first/refine, AC bands at Al=1, full-band AC refinement), decoded
    through the QM coder + the Annex G scan models — DC-first
    conditioning, fixed-bin DC refinement bits, per-k significance/
    correction bins with the EOB-past-kex rule. Entropy layers are
    lossless over coefficients, so the oracle stays the sequential
    dequant + integer-IDCT replay. Row-local Arrow kernels."""
    from tinymapreduce_spark.functions.jpegarith import (
        decode_jpeg_arith,
        encode_jpeg_arith_progressive,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = JAP_W(d), JAP_H(d)
                bw, bh = (w + 7) // 8, (h + 7) // 8
                blocks = [_ja_block(d, b) for b in range(bw * bh)]
                payloads.append(
                    encode_jpeg_arith_progressive(
                        w, h, JA_QT, blocks, kx=JA_KX[d % 4]
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "kx": [], "width": [], "height": [],
                "pixel_sum": [], "min_pixel": [], "max_pixel": [],
            }
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                d = int(d)
                w, h, px = decode_jpeg_arith(bytes(p))
                flat = [v for row in px for v in row]
                rows["doc_id"].append(d)
                rows["kx"].append(JA_KX[d % 4])
                rows["width"].append(w)
                rows["height"].append(h)
                rows["pixel_sum"].append(sum(flat))
                rows["min_pixel"].append(min(flat))
                rows["max_pixel"].append(max(flat))
            yield pd.DataFrame(rows)

    blobs = docs.mapInPandas(encode, schema="doc_id long, payload binary")
    return blobs.mapInPandas(
        decode,
        schema=(
            "doc_id long, kx long, width long, height long,"
            " pixel_sum long, min_pixel long, max_pixel long"
        ),
    )


def _jpeg_arith_prog_sql() -> str:
    from tinymapreduce_spark.functions.jpegcodec import (
        IDCT_OUT_SHIFT,
        IDCT_ROUND,
        IDCT_T,
    )

    tvals = ", ".join(
        f"({u}, {x}, {IDCT_T[u][x]})" for u in range(8) for x in range(8)
    )
    coefs = ", ".join(
        f"({r}, {c}, {expr}, {JA_QT[r * 8 + c]})"
        for (r, c), expr in {
            (0, 0): "(doc_id + 5 * b) % 32 - 16",
            (0, 1): "(doc_id + 3 * b) % 15 - 7",
            (1, 0): "(2 * doc_id + b) % 11 - 5",
            (3, 2): "(doc_id * b + doc_id) % 7 - 3",
        }.items()
    )
    return f"""
WITH t(u, x, tv) AS (VALUES {tvals}),
dims AS (
  SELECT doc_id, 8 + doc_id % 10 AS w, 8 + (doc_id * 7) % 9 AS h
  FROM documents
), blocks AS (
  SELECT d.doc_id, d.w, d.h, bx.bx, by.by,
         by.by * ((d.w + 7) // 8) + bx.bx AS b
  FROM dims d,
       LATERAL (SELECT UNNEST(range(0, (d.w + 7) // 8)) AS bx) bx,
       LATERAL (SELECT UNNEST(range(0, (d.h + 7) // 8)) AS by) by
), coefs AS (
  SELECT doc_id, w, h, bx, by, cf.r, cf.c, cf.val * cf.q AS coef
  FROM blocks, LATERAL (VALUES {coefs}) cf(r, c, val, q)
), pix AS (
  SELECT doc_id, w, h, bx * 8 + xs.x AS ix, by * 8 + ys.y AS iy,
         LEAST(255, GREATEST(0,
           128 + CAST(floor((SUM(coef * tu.tv * tvv.tv) + {IDCT_ROUND})
                            / {1 << IDCT_OUT_SHIFT}.0) AS BIGINT))) AS p
  FROM coefs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS x) xs
  CROSS JOIN (SELECT UNNEST(range(0, 8)) AS y) ys
  JOIN t tu ON tu.u = coefs.c AND tu.x = xs.x
  JOIN t tvv ON tvv.u = coefs.r AND tvv.x = ys.y
  GROUP BY doc_id, w, h, bx, by, xs.x, ys.y
)
SELECT doc_id,
       CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 5 WHEN 2 THEN 20
            ELSE 63 END AS BIGINT) AS kx,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(SUM(p) AS BIGINT) AS pixel_sum,
       CAST(MIN(p) AS BIGINT) AS min_pixel,
       CAST(MAX(p) AS BIGINT) AS max_pixel
FROM pix
WHERE ix < w AND iy < h
GROUP BY doc_id, w, h
"""


JPEG_ARITH_PROG_DECODE_SQL = _jpeg_arith_prog_sql()


# --- Streaming ADPCM ingest (round 7) ----------------------------------------
# Composition proof for the new audio codec: the landing-bucket
# autoloader shape over .wav files — a checkpointed streaming
# binaryFile index, the IMA ADPCM decoder running INSIDE the stream,
# per-doc rows appended under Trigger.AvailableNow, idempotent on
# re-run. Mirrors stream_tar_ingest / stream_warc_ingest.
ADPCM_DOC_CAP = 500  # bounded file count for the file-based path


def _ensure_wav_files(spark: SparkSession, sf_dir: str) -> str:
    """One IMA-ADPCM .wav per document (formula samples, formula block
    indices), written distributed with temp+rename commits; idempotent
    per corpus fingerprint — the .tar.gz/.bmp convention."""
    import os

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.manifest_sink import _src_fp
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    fp = _src_fp(sf_dir, "documents")
    out_dir = os.path.join(SCRATCH, f"wav_files_{tag}_{fp}")
    marker = f"spark.tinymr.wav_files_{tag.replace('.', '_')}_{fp}"
    if not spark.conf.get(marker, None):
        os.makedirs(out_dir, exist_ok=True)
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .where(F.col("doc_id") < ADPCM_DOC_CAP)
            .repartition(16)
        )

        def write_part(rows) -> None:
            prime_worker()
            import os as _os

            for row in rows:
                d = int(row.doc_id)
                nb = IMA_NB(d)
                samples = [IMA_SAMPLE(d, t) for t in range(9 * nb)]
                idxs = [(d + b) % 89 for b in range(nb)]
                blob = encode_wav_ima(samples, idxs)
                path = _os.path.join(out_dir, f"doc_{d:06d}.wav")
                tmp = path + f".tmp{_os.getpid()}"
                with open(tmp, "wb") as f:
                    f.write(blob)
                _os.replace(tmp, path)

        docs.foreachPartition(write_part)
        spark.conf.set(marker, "1")
    return out_dir


def stream_adpcm_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental lossy-audio ingest: stream the .wav landing dir
    through the checkpointed binaryFile index, decode IMA ADPCM inside
    the stream, append per-doc stats to a parquet sink under
    Trigger.AvailableNow, then aggregate the sink to ONE summary row.
    Idempotent: re-running against the same checkpoint ingests nothing.
    Oracle aggregates the 8-step unrolled ADPCM replay over the same
    capped corpus."""
    import os

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from tinymapreduce_spark.sources.textfiles import SCRATCH

    src = _ensure_wav_files(spark, sf_dir)
    base = os.path.join(SCRATCH, f"stream_{os.path.basename(src)}")
    ckpt, sink = os.path.join(base, "ckpt"), os.path.join(base, "sink")

    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    blobs = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", "*.wav")
        .load(src)
        .select("path", "content")
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        import os as _os

        for pdf in batches:
            rows: dict[str, list] = {"doc_id": [], "n_samples": [],
                                     "decoded_sum": []}
            for path, blob in zip(pdf["path"], pdf["content"]):
                d = int(_os.path.basename(path)[4:10])
                sr, got = decode_wav_ima(bytes(blob))
                rows["doc_id"].append(d)
                rows["n_samples"].append(len(got))
                rows["decoded_sum"].append(sum(got))
            yield pd.DataFrame(rows)

    q = (
        blobs.mapInPandas(
            parse, schema="doc_id long, n_samples long, decoded_sum long"
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("availableNow drain did not self-terminate")

    has_parts = os.path.isdir(sink) and any(
        f.endswith(".parquet") for f in os.listdir(sink)
    )
    back = (
        spark.read.schema("doc_id long, n_samples long, decoded_sum long")
        .parquet(sink)
        if has_parts
        else spark.createDataFrame(
            [], "doc_id long, n_samples long, decoded_sum long"
        )
    )
    return back.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("n_samples"), F.lit(0)).alias("total_samples"),
        F.coalesce(F.sum("decoded_sum"), F.lit(0)).alias("decoded_total"),
    )


def _stream_adpcm_sql() -> str:
    inner = _ima_sql()
    return f"""
WITH adpcm AS ({inner})
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(9 * n_blocks) AS BIGINT) AS total_samples,
       CAST(SUM(decoded_sum) AS BIGINT) AS decoded_total
FROM adpcm
WHERE doc_id < {ADPCM_DOC_CAP}
"""


STREAM_ADPCM_SQL = _stream_adpcm_sql()
