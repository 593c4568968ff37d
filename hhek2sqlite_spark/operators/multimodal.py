"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched Pandas
iterators (``mapInPandas``).

Decode tiers: REAL stdlib codecs for BMP 24-bit, PPM P6, PNG 8-bit RGB
(zlib, all five scanline filters), 16-bit PCM WAV and uncompressed AVI
— see the codec sections below and the oracle-paired image_pixel_stats
/ audio_sample_stats / video_frame_stats queries. Formats that
genuinely need external libraries (JPEG, MP3, compressed video) keep
the honest contract: ``decoder='stub'`` raises NotImplementedError at
evaluation time, ``decoder='fake'`` runs a deterministic byte-level
feature extractor through the exact same Spark plumbing — schema,
partitioning, Arrow batch shape all real; only that codec is fake.

Every Python stage is one ``_map_rows`` call (one output-row generator
per input row) and every ``decoder=`` argument goes through
``_decode_with``. The encoders and decoders of each container are kept
apart on purpose: they share code only among themselves (``_dib_pack``
for the encoders, ``_dib_unpack`` / ``_dib_stride`` for the decoders),
so an encoder bug and a decoder bug cannot cancel out.

Scale notes: binary payloads ride in the same parquet row groups as
their metadata (no small-file problem, no side channel); mapInPandas
streams Arrow batches so peak memory is one batch per core, not one
table; all metadata predicates (byte_len, content hash) are native
column expressions evaluated *before* any Python stage, so pruning and
pushdown still happen on the scan.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def with_binary_payload(documents: DataFrame) -> DataFrame:
    """Simulate a multimodal table from ``documents``: the utf-8 bytes of
    ``text`` stand in for an image/audio payload, with typed metadata
    columns the way a real ingest would record them."""
    payload = F.encode(F.col("text"), "utf-8")
    return documents.select(
        "doc_id",
        payload.alias("payload"),
        F.length(payload).alias("byte_len"),
        F.sha2(payload, 256).alias("content_sha256"),
        F.lit("text/plain").alias("media_type"),
    )


def binary_metadata(documents: DataFrame) -> DataFrame:
    """Metadata-only projection (no Python, no payload materialization
    beyond the hash): the query-layer face of a multimodal table."""
    return with_binary_payload(documents).select("doc_id", "byte_len", "content_sha256")


def _map_rows(
    frame: DataFrame, schema: StructType, per_row, cols=("doc_id", "payload")
) -> DataFrame:
    """The Arrow kernel of every Python stage here: ``mapInPandas`` over
    ``frame``'s ``cols``, calling ``per_row(*values)`` for each row of
    each pandas batch. ``per_row`` yields output tuples in ``schema``'s
    field order (none, one or many per input row); each batch's tuples
    become one pandas frame."""
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                out for args in zip(*(pdf[c] for c in cols)) for out in per_row(*args)
            ]
            yield pd.DataFrame(rows, columns=names)

    return frame.select(*cols).mapInPandas(run, schema)


def _decode_with(
    multimodal: DataFrame, schema: StructType, decoder: str, arms: dict, stub: str
) -> DataFrame:
    """The ``decoder=`` switch: ``arms`` maps each decoder name to its
    ``_map_rows`` row function. ``'stub'`` raises NotImplementedError
    with the ``stub`` message when the plan is evaluated (on every
    partition, an empty one too); any other name outside ``arms`` raises
    ValueError at call time."""
    if decoder == "stub":

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            raise NotImplementedError(stub)
            yield  # pragma: no cover

        return multimodal.select("doc_id", "payload").mapInPandas(run, schema)
    if decoder not in arms:
        raise ValueError(f"unknown decoder {decoder!r}")
    return _map_rows(multimodal, schema, arms[decoder])


# features ride as DOUBLE, not FLOAT: f0 carries n_bytes, and float32 is
# only integer-exact to 2^24 — a >16 MiB payload would round while the
# DuckDB oracle stays exact. double is integer-exact to 2^53.
FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def _fake_decode_row(doc_id, b):
    """Deterministic byte-level 'decoder': 8 features derived from the
    payload (length, first/last bytes, simple moments). Stands in for a
    real image/audio decode with the same batch shape."""
    data = bytes(b or b"")
    n = len(data)
    head = data[0] if n else 0
    tail = data[-1] if n else 0
    s = sum(data[:256])
    yield doc_id, n, [
        float(n),
        float(head),
        float(tail),
        float(s % 997),
        float(n % 256),
        float((head + tail) % 256),
        float(s % 256),
        float(min(n, 255)),
    ]


def decode_features(multimodal: DataFrame, *, decoder: str = "stub") -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    decoder='stub'  -> NotImplementedError at evaluation (real codecs not
                       in this container; plug pillow/librosa here).
    decoder='fake'  -> deterministic byte-level features, same plumbing.
    """
    return _decode_with(
        multimodal,
        FEATURE_SCHEMA,
        decoder,
        {"fake": _fake_decode_row},
        "media decode requires image/audio libraries not present in "
        "this container; use decoder='fake' for the plumbing path",
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("pixels", BinaryType()),
    ]
)


def resize_images(
    multimodal: DataFrame, *, width: int = 8, height: int = 8, decoder: str = "stub"
) -> DataFrame:
    """Decode-and-resize plumbing: one output row per input, pixels as a
    w*h grayscale byte buffer. decoder='stub' raises (pillow not in this
    container — plug Image.open(...).resize((w,h)) there); 'fake'
    nearest-neighbor-samples the raw payload bytes to w*h
    deterministically, exercising the identical batch shape."""
    n_out = width * height

    def fake(doc_id, b):
        data = bytes(b or b"")
        if not data:
            yield doc_id, width, height, bytes(n_out)
            return
        # nearest-neighbor byte sampling = a real resize's access
        # pattern without a codec
        step = len(data) / n_out
        yield doc_id, width, height, bytes(
            data[int(i * step) % len(data)] for i in range(n_out)
        )

    return _decode_with(
        multimodal,
        RESIZE_SCHEMA,
        decoder,
        {"fake": fake},
        "image decode requires pillow; use decoder='fake' for the plumbing path",
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(
    multimodal: DataFrame,
    *,
    frame_bytes: int = 64,
    every_nth: int = 4,
    decoder: str = "stub",
) -> DataFrame:
    """Frame-sampling plumbing: one-to-MANY mapInPandas fan-out (each
    payload yields every_nth-th 'frame').

    decoder='avi' demuxes REAL uncompressed-AVI container bytes via the
    independent RIFF walker (avi_decode below) — each emitted frame is
    the raw '00db' DIB chunk. decoder='fake' is the fixed-width splitter
    for payloads that are NOT real containers; 'stub' raises honestly
    for formats needing absent codec libraries (compressed video:
    av/ffmpeg)."""

    def avi(doc_id, b):
        # skip NULL / non-AVI / corrupt payloads instead of killing the
        # job: the shared multimodal source mixes image/audio/video
        # blobs and a real crawl stores truncated files; a demuxer that
        # crashes the whole query on the first bad row is useless at
        # corpus scale. The walker itself is bounds-clamped, so
        # ValueError (magic) is the only expected escape — but catch
        # struct.error too for defense in depth.
        try:
            chunks = _avi_frame_chunks(bytes(b or b""))
        except (ValueError, struct.error):
            return
        for k in range(0, len(chunks), every_nth):
            yield doc_id, k, chunks[k]

    def fake(doc_id, b):
        data = bytes(b or b"")
        for k in range(0, len(data) // frame_bytes, every_nth):
            yield doc_id, k, data[k * frame_bytes : (k + 1) * frame_bytes]

    return _decode_with(
        multimodal,
        FRAME_SCHEMA,
        decoder,
        {"avi": avi, "fake": fake},
        "compressed-video demux requires av/ffmpeg; use decoder='avi' for "
        "real uncompressed AVI payloads or decoder='fake' for the plumbing path",
    )


# ---------------------------------------------------------------------------
# REAL stdlib codecs: BMP 24-bit, PPM P6, and PNG 8-bit RGB with all five
# scanline filters via zlib. No third-party library — struct + zlib only —
# so the decode path is genuinely exercising container parsing (header
# fields, stride padding, bottom-up row order, filter reconstruction),
# not a fake. Formats outside these three still raise through
# decoder='stub'.
# ---------------------------------------------------------------------------


def _dib_pack(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Encoder half of the DIB row layout that BMP files and AVI frames
    share: ``rows[y][x] = (b, g, r)`` with y=0 the TOP row, stored
    bottom-up, each line zero-padded to a multiple of 4 bytes."""
    body = bytearray()
    for row in reversed(rows):  # bottom-up
        line = bytearray()
        for b, g, r in row:
            line += bytes((b, g, r))
        body += line + bytes(-len(line) % 4)
    return bytes(body)


def _dib_stride(w: int) -> int:
    """Bytes per stored DIB line of ``w`` 24-bit pixels (decoder side)."""
    return (w * 3 + 3) & ~3


def _dib_unpack(
    buf: bytes, off: int, w: int, h: int, bottom_up: bool = True
) -> list[list[tuple[int, int, int]]]:
    """Decoder half of the DIB row layout: ``h`` stored lines of ``w``
    (b, g, r) pixels at ``buf[off:]`` back to top-down rows."""
    stride = _dib_stride(w)
    rows = []
    for yy in range(h):
        base = off + ((h - 1 - yy) if bottom_up else yy) * stride
        rows.append([tuple(buf[base + 3 * x : base + 3 * x + 3]) for x in range(w)])
    return rows


def bmp_encode(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Minimal 24-bit uncompressed BMP. ``rows[y][x] = (b, g, r)`` with
    y=0 the TOP row; BMP stores rows bottom-up with 4-byte stride
    padding — exactly the two details a sloppy decoder gets wrong."""
    h = len(rows)
    w = len(rows[0]) if h else 0
    body = _dib_pack(rows)
    off = 14 + 40
    return (
        struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        + body
    )


def bmp_decode(data: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Parse a 24-bit uncompressed BMP back to top-down rows."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (off,) = struct.unpack_from("<I", data, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", data, 14)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    (compression,) = struct.unpack_from("<I", data, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    return w, abs(h), _dib_unpack(data, off, w, abs(h), bottom_up=h > 0)


def ppm_encode(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Binary PPM (P6), rows top-down, pixels RGB."""
    h = len(rows)
    w = len(rows[0]) if h else 0
    body = bytearray()
    for row in rows:
        for b, g, r in row:  # rows carry BGR like the BMP path; PPM is RGB
            body += bytes((r, g, b))
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(body)


def ppm_decode(data: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header: magic, ws-separated w h maxval, then EXACTLY ONE whitespace
    # byte before the body. A naive split(None, 3) would also eat body
    # bytes that happen to be whitespace (0x20/0x09/0x0a...), shifting
    # every pixel — parse byte-precisely instead.
    pos = 2
    vals = []
    while len(vals) < 3:
        while data[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while not data[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(data[start:pos]))
    pos += 1  # the single post-maxval whitespace byte
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError("only maxval 255 supported")
    body = data[pos:]
    rows = []
    for y in range(h):
        base = y * w * 3
        rows.append(
            [
                (body[base + 3 * x + 2], body[base + 3 * x + 1], body[base + 3 * x])
                for x in range(w)
            ]
        )
    return w, h, rows


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(rows: list[list[tuple[int, int, int]]], *, filter_type: int = 0) -> bytes:
    """8-bit RGB PNG. ``filter_type`` picks the per-scanline filter
    (0=None 1=Sub 2=Up 3=Average 4=Paeth) so decoder tests can exercise
    every reconstruction branch."""
    h = len(rows)
    w = len(rows[0]) if h else 0
    raw = bytearray()
    prev = bytes(w * 3)
    for row in rows:
        line = bytearray()
        for b, g, r in row:
            line += bytes((r, g, b))
        filt = bytearray([filter_type])
        for i in range(len(line)):
            a = line[i - 3] if i >= 3 else 0
            up = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if filter_type == 0:
                filt.append(line[i])
            elif filter_type == 1:
                filt.append((line[i] - a) & 0xFF)
            elif filter_type == 2:
                filt.append((line[i] - up) & 0xFF)
            elif filter_type == 3:
                filt.append((line[i] - (a + up) // 2) & 0xFF)
            else:  # Paeth
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                filt.append((line[i] - pred) & 0xFF)
        raw += filt
        prev = bytes(line)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Parse an 8-bit RGB PNG (any scanline filter) to top-down rows of
    (b, g, r) — same pixel tuple convention as bmp_decode."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, w, h, idat = 8, 0, 0, bytearray()
    while pos < len(data):
        (ln,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, bit_depth, color_type = struct.unpack_from(">IIBB", payload)
            if bit_depth != 8 or color_type != 2:
                raise ValueError("only 8-bit RGB PNGs supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    raw = zlib.decompress(bytes(idat))
    stride = w * 3
    rows = []
    prev = bytearray(stride)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        for i in range(stride):
            a = line[i - 3] if i >= 3 else 0
            up = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if ft == 1:
                line[i] = (line[i] + a) & 0xFF
            elif ft == 2:
                line[i] = (line[i] + up) & 0xFF
            elif ft == 3:
                line[i] = (line[i] + (a + up) // 2) & 0xFF
            elif ft == 4:
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
            elif ft != 0:
                raise ValueError(f"bad filter {ft}")
        rows.append(
            [(line[3 * x + 2], line[3 * x + 1], line[3 * x]) for x in range(w)]
        )
        prev = line
    return w, h, rows


def decode_any(data: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Magic-byte dispatch across the three real containers; anything
    else raises the honest stub error."""
    if data[:2] == b"BM":
        return bmp_decode(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return png_decode(data)
    if data[:2] == b"P6":
        return ppm_decode(data)
    raise NotImplementedError(
        "payload is not BMP/PNG/PPM; other formats need codec libraries "
        "not present in this container"
    )


def _synth_frame(doc_id: int, f: int, w: int, h: int) -> list[list[tuple[int, int, int]]]:
    """The analytic test pattern of frame ``f`` (an image is frame 0):
    every channel value is an integer function of (doc_id, f, x, y), so
    an SQL oracle can compute every decoded-pixel statistic WITHOUT
    parsing containers — any decoder bug (stride, row order, filter
    math, frame order) then shows up as a parity mismatch."""
    rows = []
    for y in range(h):
        row = []
        for x in range(w):
            v = (doc_id * 31 + f * 19 + x * 7 + y * 13) % 256
            row.append((v, (v + 85) % 256, (v + 170) % 256))
        rows.append(row)
    return rows


def _synth_pixel_rows(doc_id: int) -> list[list[tuple[int, int, int]]]:
    """One image per doc_id: the analytic pattern at 4..7 x 3..5 px."""
    return _synth_frame(doc_id, 0, 4 + doc_id % 4, 3 + doc_id % 3)


# the (doc_id, payload) output of all three synthesizers
IMAGE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def _synthesize(documents: DataFrame, encode) -> DataFrame:
    """One ``encode(doc_id)`` container per document, as (doc_id, payload)."""

    def synth(doc_id):
        yield doc_id, encode(int(doc_id))

    return _map_rows(documents, IMAGE_SCHEMA, synth, cols=("doc_id",))


STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("px_sum", LongType()),
        StructField("px_min", LongType()),
        StructField("px_max", LongType()),
        StructField("px_moment", LongType()),
    ]
)


def synthesize_images(documents: DataFrame) -> DataFrame:
    """Build REAL image containers per document: even doc_ids become
    BMPs, doc_id % 4 == 1 PNGs (cycling through all four non-trivial
    scanline filters by doc_id), the rest PPMs — so one table carries
    three container formats, like a real crawl dump."""

    def encode(doc_id: int) -> bytes:
        rows = _synth_pixel_rows(doc_id)
        if doc_id % 2 == 0:
            return bmp_encode(rows)
        if doc_id % 4 == 1:
            return png_encode(rows, filter_type=1 + doc_id // 4 % 4)
        return ppm_encode(rows)

    return _synthesize(documents, encode)


def image_pixel_stats(images: DataFrame) -> DataFrame:
    """Decode REAL container bytes (BMP/PNG/PPM by magic) and emit
    pixel statistics: sum/min/max over all channel values plus an
    ORDER-SENSITIVE first moment sum((y*w + x) * blue(x, y)) — sum and
    extrema alone cannot distinguish a correctly-decoded image from one
    read bottom-up or with a wrong stride, the moment can."""

    def stats(doc_id, payload):
        w, h, rows = decode_any(bytes(payload))
        vals = [v for row in rows for px in row for v in px]
        moment = sum(
            (y * w + x) * rows[y][x][0] for y in range(h) for x in range(w)
        )
        yield (
            doc_id,
            w,
            h,
            sum(vals),
            min(vals) if vals else 0,
            max(vals) if vals else 0,
            moment,
        )

    return _map_rows(images, STATS_SCHEMA, stats)


# ---------------------------------------------------------------------------
# REAL audio container: 16-bit PCM WAV. Synthesis goes through the stdlib
# `wave` module; decoding is a hand-rolled RIFF chunk parser (fmt + data,
# chunk-order agnostic, odd-size padding) — two independent
# implementations of the container, so a parse bug cannot cancel out.
# ---------------------------------------------------------------------------


def wav_encode(frames: list[tuple[int, ...]], *, sample_rate: int) -> bytes:
    """16-bit PCM WAV from interleaved frames (one tuple per frame, one
    int16 per channel), via the stdlib wave module."""
    import io
    import wave as _wave

    nch = len(frames[0]) if frames else 1
    buf = io.BytesIO()
    w = _wave.open(buf, "wb")
    try:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        flat = [s for fr in frames for s in fr]
        w.writeframes(struct.pack(f"<{len(flat)}h", *flat))
    finally:
        w.close()
    return buf.getvalue()


def wav_decode(data: bytes) -> tuple[int, int, list[tuple[int, ...]]]:
    """Parse a 16-bit PCM WAV: returns (n_channels, sample_rate,
    interleaved frames). RIFF chunks are walked in file order with the
    spec's odd-length padding; only format 1 (PCM) 16-bit is accepted."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    nch = rate = None
    body = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", data, pos + 4)
        payload = data[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            fmt_code, nch, rate = struct.unpack_from("<HHI", payload)
            bits = struct.unpack_from("<H", payload, 14)[0]
            if fmt_code != 1 or bits != 16:
                raise ValueError(f"unsupported WAV: fmt={fmt_code} bits={bits}")
        elif tag == b"data":
            body = payload
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if nch is None or body is None:
        raise ValueError("missing fmt/data chunk")
    n = len(body) // (2 * nch)
    vals = struct.unpack(f"<{n * nch}h", body[: n * nch * 2])
    frames = [tuple(vals[i * nch : (i + 1) * nch]) for i in range(n)]
    return nch, rate, frames


def _synth_audio(doc_id: int) -> tuple[int, list[tuple[int, ...]]]:
    """Analytic waveform (see image twin _synth_pixel_rows): every
    sample is an integer function of doc_id, so the SQL oracle can
    compute decoded-sample statistics without parsing RIFF."""
    n = 50 + doc_id % 50
    nch = 1 + doc_id % 2
    rate = (8000, 16000, 44100)[doc_id % 3]
    frames = [
        tuple(
            (doc_id * 7 + i * 17 + ch * 29) % 65536 - 32768
            for ch in range(nch)
        )
        for i in range(n)
    ]
    return rate, frames


AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("s_sum", LongType()),
        StructField("s_min", LongType()),
        StructField("s_max", LongType()),
        StructField("zero_crossings", LongType()),
    ]
)


def synthesize_audio(documents: DataFrame) -> DataFrame:
    """One real 16-bit PCM WAV per document (mono/stereo and sample
    rate varying by doc_id)."""

    def encode(doc_id: int) -> bytes:
        rate, frames = _synth_audio(doc_id)
        return wav_encode(frames, sample_rate=rate)

    return _synthesize(documents, encode)


def audio_sample_stats(audio: DataFrame) -> DataFrame:
    """Decode real WAV bytes and aggregate: sum/min/max over all
    channels plus channel-0 zero crossings — the crossings depend on
    sample ORDER, so frame interleaving or endianness bugs cannot hide
    behind the order-invariant aggregates."""

    def stats(doc_id, payload):
        nch, rate, frames = wav_decode(bytes(payload))
        flat = [s for fr in frames for s in fr]
        ch0 = [fr[0] for fr in frames]
        zc = sum(
            1
            for i in range(1, len(ch0))
            if (ch0[i - 1] < 0) != (ch0[i] < 0)
        )
        yield (
            doc_id,
            len(frames),
            nch,
            rate,
            sum(flat),
            min(flat) if flat else 0,
            max(flat) if flat else 0,
            zc,
        )

    return _map_rows(audio, AUDIO_STATS_SCHEMA, stats)


# ---------------------------------------------------------------------------
# REAL video container: uncompressed AVI (RIFF, like WAV) carrying raw
# 24-bit BGR 'DIB ' frames — completing the image/audio/video triad with
# the same independent-implementations trick: the encoder composes the
# RIFF tree forward with explicit struct fields; the decoder is a generic
# RIFF chunk walker that shares no code with it, so a container bug
# cannot cancel out. Frames are stored exactly as Video-for-Windows
# stores uncompressed DIBs: bottom-up rows with 4-byte stride padding
# (the same two traps as BMP, and the same _dib_pack / _dib_unpack).
# ---------------------------------------------------------------------------


def avi_encode(
    frames: list[list[list[tuple[int, int, int]]]], *, fps: int = 25
) -> bytes:
    """Minimal spec-conformant uncompressed AVI. ``frames[f][y][x] =
    (b, g, r)`` with y=0 the TOP row. Emits RIFF('AVI ') > LIST(hdrl)
    [avih + LIST(strl)[strh 'vids'/'DIB ' + strf BITMAPINFOHEADER]] +
    LIST(movi)['00db' per frame] + idx1."""
    n = len(frames)
    h = len(frames[0]) if n else 0
    w = len(frames[0][0]) if h else 0
    frame_blobs = [_dib_pack(fr) for fr in frames]
    frame_sz = len(frame_blobs[0]) if n else 0

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return tag + struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) & 1 else b""
        )

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // max(fps, 1),  # microseconds per frame
        frame_sz * fps,  # max bytes per second
        0,  # padding granularity
        0x10,  # AVIF_HASINDEX
        n, 0, 1, frame_sz, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, fps,  # scale / rate => fps
        0, n, frame_sz, 0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_sz, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_payload = b"".join(chunk(b"00db", fb) for fb in frame_blobs)
    movi = lst(b"movi", movi_payload)
    # idx1: one entry per frame (offset from start of movi's 'movi' tag)
    idx = bytearray()
    off = 4
    for fb in frame_blobs:
        idx += b"00db" + struct.pack("<III", 0x10, off, len(fb))
        off += 8 + len(fb) + (len(fb) & 1)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _riff_walk(buf: bytes, pos: int, end: int):
    """Depth-first, ORDER-PRESERVING walk of a RIFF chunk tree: yields
    (tag, payload_start, payload_end) for every chunk; LIST chunks
    yield their kind tag and then their children before the following
    sibling, so overall order is the stream order (a naive LIFO of
    sibling ranges reverses them, which flips frame order whenever
    frames sit inside 'rec ' wrapper lists).

    Iterative with an explicit continuation stack and CLAMPED bounds:
    corrupt blobs pass magic checks too (truncated files whose declared
    chunk lengths run past the buffer, or ~1000-deep nested LISTs) and
    must neither raise struct.error nor blow the recursion limit — at
    corpus scale the walker sees whatever bytes the crawl stored."""
    end = min(end, len(buf))
    stack = [(pos, end)]
    while stack:
        pos, end = stack.pop()
        if pos + 8 > end:
            continue
        tag = buf[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", buf, pos + 4)
        payload_start = pos + 8
        payload_end = min(payload_start + ln, end)
        # the sibling continuation goes UNDER the child range so the
        # children pop first — stream order without recursion
        stack.append((payload_start + ln + (ln & 1), end))
        if tag == b"LIST" and payload_end >= payload_start + 4:
            kind = buf[payload_start : payload_start + 4]
            yield kind, payload_start + 4, payload_end
            stack.append((payload_start + 4, payload_end))
        else:
            yield tag, payload_start, payload_end


def _avi_parse(data: bytes) -> tuple[int, int, list[bytes]]:
    """Header validation + raw frame chunks: the shared first half of
    AVI decoding. Returns (width, height, frame_bytes) with each frame
    still in stored form (bottom-up rows, 4-byte stride padding)."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    w = h = None
    bitcount = compression = None
    frame_bytes: list[bytes] = []
    for tag, start, end in _riff_walk(data, 12, len(data)):
        # the walker CLAMPS declared chunk lengths to the buffer, so a
        # truncated file can hand us an avih/strf payload shorter than
        # the fields we read — bounds-check first so callers see the
        # documented ValueError, never a struct.error
        if tag == b"avih":
            if end - start < 40:
                raise ValueError("truncated avih header")
            w, h = struct.unpack_from("<II", data, start + 32)
        elif tag == b"strf":
            if end - start < 20:
                raise ValueError("truncated strf header")
            _, _, _, _, bitcount, compression = struct.unpack_from(
                "<IiiHHI", data, start
            )
        elif tag in (b"00db", b"00dc"):
            frame_bytes.append(data[start:end])
    if w is None or bitcount is None:
        raise ValueError("missing avih/strf header")
    if bitcount != 24 or compression != 0:
        raise ValueError(
            f"unsupported AVI: bitcount={bitcount} compression={compression} "
            "(only uncompressed 24-bit DIB streams)"
        )
    for fb in frame_bytes:
        if len(fb) < _dib_stride(w) * h:
            raise ValueError("short frame chunk")
    return w, h, frame_bytes


def avi_decode(
    data: bytes,
) -> tuple[int, int, list[list[list[tuple[int, int, int]]]]]:
    """Independent AVI parser: generic RIFF walk (no code shared with
    avi_encode), validates the stream is uncompressed 24-bit 'vids',
    returns (width, height, frames) with frames[f][y][x] = (b, g, r),
    y=0 top. Raises on any other AVI flavor."""
    w, h, frame_bytes = _avi_parse(data)
    return w, h, [_dib_unpack(fb, 0, w, h) for fb in frame_bytes]


def _avi_frame_chunks(data: bytes) -> list[bytes]:
    """Raw frame chunks in stream order (for the sample_frames fan-out,
    which wants bytes, not decoded pixels). Routed through _avi_parse so
    its strf bitcount/compression validation applies: a COMPRESSED AVI
    must not yield codec bitstream bytes as 'frames', so any stream that
    is not uncompressed 24-bit DIB raises the same ValueError avi_decode
    raises, and sample_frames skips it like every other unsupported
    format."""
    return _avi_parse(data)[2]


def _synth_video_frames(doc_id: int) -> list[list[list[tuple[int, int, int]]]]:
    """One video per doc_id: 2..4 frames of the analytic pattern
    (_synth_frame) at 4..6 x 2..3 px."""
    w = 4 + doc_id % 3
    h = 2 + doc_id % 2
    return [_synth_frame(doc_id, f, w, h) for f in range(2 + doc_id % 3)]


VIDEO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
        StructField("px_sum", LongType()),
        StructField("px_moment", LongType()),
    ]
)


def synthesize_videos(documents: DataFrame) -> DataFrame:
    """One real uncompressed AVI per document (dims and frame count
    varying by doc_id)."""
    return _synthesize(documents, lambda doc_id: avi_encode(_synth_video_frames(doc_id)))


def video_frame_stats(videos: DataFrame, *, every_nth: int = 2) -> DataFrame:
    """Decode real AVI bytes with the independent parser and emit one
    row per SAMPLED frame (every_nth-th, the frame-sampling fan-out
    shape): per-frame pixel sum over all channels plus the
    order-sensitive moment sum((y*w + x) * blue) — the moment varies
    per frame through the synthesis formula, so a frame-indexing bug
    (off-by-one demux, wrong chunk order) breaks parity even where
    whole-video sums would not."""

    import numpy as np

    def stats(doc_id, payload):
        # vectorized stats kernel: parse headers + raw chunks, then
        # compute per-frame sums from a numpy view — no per-pixel Python
        # objects. Interleaved A/B vs the tuple-building avi_decode path
        # at sf0.1: EQUAL (0.60-0.68 vs 0.62-0.74) because fixture
        # frames are <=30 px and numpy setup costs what the tiny loop
        # costs; kept because real frames are 1e5-1e6 px where the
        # per-pixel path is the 100x-slower one. avi_decode remains the
        # reference decoder; a test pins both paths to identical stats.
        # Exact: uint8 values, h*w < 2^20, so every sum fits int64 with
        # no rounding anywhere.
        w, h, frame_bytes = _avi_parse(bytes(payload))
        stride = _dib_stride(w)
        # y*w + x moment weights for TOP-DOWN rows
        weights = np.arange(h * w, dtype=np.int64).reshape(h, w)
        for f in range(0, len(frame_bytes), every_nth):
            raw = np.frombuffer(
                frame_bytes[f], dtype=np.uint8, count=stride * h
            ).reshape(h, stride)
            px = raw[::-1, : w * 3]  # bottom-up -> top-down, unpad
            blue = px[:, 0::3].astype(np.int64)
            yield (
                doc_id,
                f,
                w,
                h,
                len(frame_bytes),
                int(px.sum(dtype=np.int64)),
                int((weights * blue).sum()),
            )

    return _map_rows(videos, VIDEO_STATS_SCHEMA, stats)
