"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images, audio and video ride through the engine as ``binary`` payloads in
MEDIA_SCHEMA rows. Three header operators (``extract_media_dimensions``,
``extract_audio_meta``, ``sample_frames``) parse container headers and
pass input columns through.

Every stats extractor has ONE operator shape, written once in
``_map_payloads``: Arrow-batched ``mapInPandas``, a decoder plus a
per-item reduce inside the executor pass (only stat rows leave it, never
pixels or samples), one row of ``media_id`` plus NULLs for an
undecodable or zero-size payload, and pandas dtypes derived from the
output schema so int64 stats stay exact next to NULLs. The two payload
rewriters (``resize_image_payloads``, ``resample_wav_payloads``) share
``_rewrite_payloads``: decode → transform → re-encode into MEDIA_SCHEMA.

The decoders are pure stdlib + numpy, no codec library: PNG
(``decode_png_rgb``: truecolor, grayscale and indexed, all five scanline
filters, Adam7), GIF (``decode_gif_rgb``, ``decode_gif_animation``:
variable-width LZW, interlace, compositing), BMP (incl. RLE8), TIFF
(none/PackBits/LZW/Deflate, predictor 2), JPEG (``decode_jpeg_gray``,
``decode_jpeg_rgb``: baseline and progressive, any Y-subsampled layout,
DRI/restart streams), WAV (``decode_wav_pcm``: PCM, float, G.711, IMA
ADPCM) and MJPEG video (``parse_mp4_samples`` sample tables, walked frame
by frame by ``_mjpeg_frames``). MP3 frame chains and FLAC STREAMINFO are
read as metadata only.

The ``decoder=`` seam: the still-image and audio extractors take a
``decoder=`` callable (``bytes|None -> decoded|None``) that defaults to
the pure decoder for their format. One extractor serves every format
with the same decoded shape through it (``extract_pixel_stats(df,
decoder=decode_jpeg_rgb)`` is the color-JPEG path), and production swaps
a native codec in behind the identical operator shape; the throughput
gap that makes that swap mandatory at real multimodal scale is measured
in SCALE.md §8i (pure-Python JPEG ~0.2-0.3 MB/s/core vs libjpeg-turbo's
~100+ — ~400×; the mapInPandas shape itself adds no per-core penalty).
What stays behind the seam: subsampled-CHROMA JPEG layouts,
arithmetic-coded and hierarchical JPEG, inter-frame video codecs
(H.26x/VP9/AV1), and perceptual compressed audio (MP3/AAC/Opus sample
decode).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical multimodal record schema: payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("mime_type", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("meta_json", StringType(), True),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: JPEG start-of-frame markers that carry dimensions (baseline, extended
#: sequential, progressive, lossless, and the differential variants).
_JPEG_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}  # DHT, JPG, DAC are not SOFs

DIMENSIONS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime_type", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("format", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
    ]
)


def _as_bytes(payload) -> bytes | None:
    """An Arrow binary cell as ``bytes``; a NULL payload stays None."""
    return None if payload is None else bytes(payload)


#: Nullable pandas dtype per Spark numeric type; a non-nullable field
#: takes the plain numpy dtype (``Int64`` -> ``int64``). Other types
#: (string, array) stay object.
_PANDAS_DTYPES = {
    LongType: "Int64",
    IntegerType: "Int32",
    DoubleType: "Float64",
    FloatType: "Float32",
}


def _pandas_dtype(field: StructField):
    d = _PANDAS_DTYPES.get(type(field.dataType))
    if d is None:
        return object
    return d if field.nullable else d.lower()


def _map_payloads(df: DataFrame, schema: StructType, per_item) -> DataFrame:
    """The one operator shape of every stats extractor: Arrow-batched
    ``mapInPandas`` over MEDIA_SCHEMA rows into ``schema``, whose first
    field is ``media_id``.

    ``per_item(bytes | None) -> list[tuple] | None`` decodes and reduces
    one payload; each tuple is one output row after ``media_id``. None
    voids the item: one row of its ``media_id`` with every other column
    NULL, never a crash mid-corpus. An empty list drops the item (the
    one-to-many source primitives' filter). The reduce runs inside the
    executor pass, so only these rows leave it, never pixels or samples,
    and each input Arrow batch yields its own output frame, so a task's
    worth of decoded output never accumulates in Python.

    Every column gets an explicit pandas dtype derived from ``schema``.
    Plain ``pd.DataFrame(rows)`` infers a mixed int/None column as
    float64, which silently rounds int64 magnitudes past 2^53 before
    Arrow casts back to long: one undecodable payload in a batch would
    corrupt its neighbours' 64-bit stats."""
    dtypes = {f.name: _pandas_dtype(f) for f in schema.fields}
    void = (None,) * (len(dtypes) - 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                got = per_item(_as_bytes(payload))
                rows.extend([(mid, *void)] if got is None else [(mid, *r) for r in got])
            cols = list(zip(*rows)) if rows else [()] * len(dtypes)
            yield pd.DataFrame(
                {n: pd.Series(list(c), dtype=d) for (n, d), c in zip(dtypes.items(), cols)}
            )

    return df.mapInPandas(run, schema=schema)


def _rewrite_payloads(df: DataFrame, rewrite) -> DataFrame:
    """The one operator shape of the payload rewriters: ``rewrite(bytes |
    None) -> bytes | None`` decodes, transforms and re-encodes one payload
    inside Arrow-batched ``mapInPandas``. MEDIA_SCHEMA rows come out with
    the new payload and its size, ``mime_type`` and ``meta_json`` passed
    through; None (undecodable) leaves payload and ``n_bytes`` NULL."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [rewrite(_as_bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out,
                    "mime_type": pdf["mime_type"],
                    "n_bytes": pd.array(
                        [None if b is None else len(b) for b in out], dtype="Int64"
                    ),
                    "meta_json": pdf["meta_json"],
                }
            )

    return df.mapInPandas(run, schema=MEDIA_SCHEMA)


def _empty(a) -> bool:
    """A failed (None) or zero-size decode: NULL stats in every extractor."""
    return a is None or a.size == 0


def parse_image_header(b: bytes | None) -> tuple[str, int, int] | None:
    """Header-only image decode: (format, width, height) from the container
    bytes, or None when the payload is not a recognizable
    PNG/JPEG/GIF/BMP/TIFF.

    Pure stdlib ``struct`` over the published container layouts:
    PNG — 8-byte signature, then the IHDR chunk holds two big-endian
    uint32 dimensions at offsets 16/20; GIF — 'GIF87a'/'GIF89a', then two
    little-endian uint16; BMP — 'BM', then two little-endian int32 at
    offsets 18/22 (negative height = top-down storage); TIFF — 'II'/'MM'
    byte-order mark, magic 42, then ImageWidth/ImageLength (tags 256/257)
    from the first IFD; JPEG — walk the
    marker segments from SOI to the first SOFn, whose payload is
    [precision u8, height u16be, width u16be].
    """
    if not b:
        return None
    if b[:8] == _PNG_SIG and len(b) >= 24 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return ("png", w, h)
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return ("gif", w, h)
    if b[:2] == b"BM" and len(b) >= 26:
        w, h = struct.unpack("<ii", b[18:26])
        return ("bmp", w, abs(h))
    if b[:2] in (b"II", b"MM") and len(b) >= 8:
        e = "<" if b[:2] == b"II" else ">"
        magic, ifd = struct.unpack(e + "HI", b[2:8])
        if magic != 42 or ifd + 2 > len(b):
            return None
        (n,) = struct.unpack_from(e + "H", b, ifd)
        dims = {}
        for k in range(n):
            at = ifd + 2 + 12 * k
            if at + 12 > len(b):
                return None
            tag, typ, cnt = struct.unpack_from(e + "HHI", b, at)
            # count must be 1 for a scalar dimension; with cnt != 1 the
            # value field holds a file offset, not the dimension — treat
            # such (nonstandard) tags as absent rather than misread them
            if tag in (256, 257) and typ in (3, 4) and cnt == 1:
                (dims[tag],) = struct.unpack_from(
                    e + ("H" if typ == 3 else "I"), b, at + 8
                )
        if 256 in dims and 257 in dims:
            return ("tiff", dims[256], dims[257])
        return None
    if b[:2] == b"\xff\xd8":  # JPEG SOI
        i = 2
        n = len(b)
        while i + 4 <= n:
            if b[i] != 0xFF:  # desync — not a marker where one must be
                return None
            marker = b[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers have no length field
                continue
            (seg_len,) = struct.unpack(">H", b[i + 2 : i + 4])
            if marker in _JPEG_SOF_MARKERS:
                if i + 9 <= n:
                    h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                    return ("jpeg", w, h)
                return None
            i += 2 + seg_len
        return None
    return None


def extract_media_dimensions(df: DataFrame) -> DataFrame:
    """Arrow-batched header decode: (media_id, mime_type, n_bytes, format,
    width, height); format/width/height are NULL for unrecognized payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [
                parse_image_header(_as_bytes(p))
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime_type": pdf["mime_type"],
                    "n_bytes": pdf["n_bytes"],
                    "format": [p[0] if p else None for p in parsed],
                    "width": pd.array([p[1] if p else None for p in parsed], dtype="Int32"),
                    "height": pd.array([p[2] if p else None for p in parsed], dtype="Int32"),
                }
            )

    return df.mapInPandas(run, schema=DIMENSIONS_SCHEMA)


def parse_wav_header(b: bytes | None) -> tuple[int, int, int, float] | None:
    """Header-only audio decode: (channels, sample_rate, bits_per_sample,
    duration_sec) from a RIFF/WAVE container, or None if unrecognizable.

    Walks the RIFF chunk list (4-byte id, little-endian uint32 size): the
    ``fmt `` chunk carries channels/rate/bits, the ``data`` chunk size over
    the byte rate gives the duration — the published canonical WAV layout.
    """
    if not b or len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    channels = rate = bits = None
    data_bytes = None
    i = 12
    n = len(b)
    while i + 8 <= n:
        cid = b[i : i + 4]
        (size,) = struct.unpack("<I", b[i + 4 : i + 8])
        if cid == b"fmt " and i + 24 <= n:
            channels, rate = struct.unpack("<HI", b[i + 10 : i + 16])
            (bits,) = struct.unpack("<H", b[i + 22 : i + 24])
        elif cid == b"data":
            data_bytes = size
        i += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if not channels or not rate or not bits or data_bytes is None:
        return None
    byte_rate = rate * channels * (bits // 8)
    return (channels, rate, bits, round(data_bytes / byte_rate, 6) if byte_rate else 0.0)


def parse_mp4_header(b: bytes | None) -> tuple[str, float] | None:
    """Header-only video decode: (major_brand, duration_sec) from an
    ISO-BMFF (MP4) container, or None if unrecognizable.

    Walks the top-level box list (big-endian uint32 size, 4-byte type;
    size==1 means a 64-bit largesize follows). ``ftyp`` yields the brand;
    the ``mvhd`` box inside ``moov`` carries timescale + duration (version
    0: uint32s at offset 12; version 1: uint64 duration, uint32 timescale
    at offset 20) — the published ISO/IEC 14496-12 layout.
    """
    if not b or len(b) < 12 or b[4:8] != b"ftyp":
        return None
    brand = b[8:12].decode("ascii", errors="replace")

    def walk(lo: int, hi: int, depth: int) -> float | None:
        i = lo
        while i + 8 <= hi:
            (size,) = struct.unpack(">I", b[i : i + 4])
            btype = b[i + 4 : i + 8]
            payload = i + 8
            if size == 1:
                if payload + 8 > hi:
                    return None
                (size,) = struct.unpack(">Q", b[payload : payload + 8])
                payload += 8
            elif size == 0:  # box extends to end of file
                size = hi - i
            if size < 8 or i + size > hi:
                return None
            if btype == b"moov" and depth == 0:
                found = walk(payload, i + size, 1)
                if found is not None:
                    return found
            elif btype == b"mvhd" and depth == 1 and payload + 4 <= hi:
                version = b[payload]
                if version == 1 and payload + 32 <= hi:
                    (timescale,) = struct.unpack(">I", b[payload + 20 : payload + 24])
                    (duration,) = struct.unpack(">Q", b[payload + 24 : payload + 32])
                elif version == 0 and payload + 24 <= hi:
                    timescale, duration = struct.unpack(">II", b[payload + 12 : payload + 20])
                else:
                    return None
                return round(duration / timescale, 6) if timescale else None
            i += size
        return None

    duration = walk(0, len(b), 0)
    return None if duration is None else (brand, duration)


AUDIO_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("channels", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("bits_per_sample", IntegerType(), True),
        StructField("duration_sec", FloatType(), True),
    ]
)


def extract_audio_meta(df: DataFrame) -> DataFrame:
    """Arrow-batched WAV header decode over the media schema; NULL columns
    for unrecognizable payloads (never a crash mid-corpus)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [
                parse_wav_header(_as_bytes(p)) for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["n_bytes"],
                    "channels": pd.array([p[0] if p else None for p in parsed], dtype="Int32"),
                    "sample_rate": pd.array([p[1] if p else None for p in parsed], dtype="Int32"),
                    "bits_per_sample": pd.array(
                        [p[2] if p else None for p in parsed], dtype="Int32"
                    ),
                    "duration_sec": pd.array(
                        [p[3] if p else None for p in parsed], dtype="Float32"
                    ),
                }
            )

    return df.mapInPandas(run, schema=AUDIO_META_SCHEMA)


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("ts_sec", FloatType(), False),
        StructField("frame", BinaryType(), True),
    ]
)


def sample_frames(df: DataFrame, fps: float = 1.0, max_frames: int = 32) -> DataFrame:
    """Video frame sampling: one output row per sampled timestamp, capped at
    ``max_frames`` per video (uniform stride when the cap binds).

    The container parse (mvhd duration) is REAL; the pixel extraction seam
    yields NULL ``frame`` bytes — an ffmpeg-backed decoder slots into
    ``_extract_frame`` without touching the distributed shape. Videos the
    parser rejects produce no rows (filtered, not crashed).
    """

    def _extract_frame(payload: bytes, ts: float) -> bytes | None:
        # codec seam: real frame extraction requires ffmpeg, which stays
        # outside this container. NULL marks "not decoded", never fake pixels.
        return None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id: list[int] = []
            out_idx: list[int] = []
            out_ts: list[float] = []
            out_frame: list[bytes | None] = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                b = bytes(payload)
                parsed = parse_mp4_header(b)
                if parsed is None:
                    continue
                _, duration = parsed
                n_want = int(duration * fps) + 1
                n = min(n_want, max_frames)
                if n <= 0:
                    continue
                stride = duration / n
                for k in range(n):
                    ts = round(k * stride, 6)
                    out_id.append(int(media_id))
                    out_idx.append(k)
                    out_ts.append(ts)
                    out_frame.append(_extract_frame(b, ts))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(out_id, dtype="Int64"),
                    "frame_idx": pd.array(out_idx, dtype="Int32"),
                    "ts_sec": pd.array(out_ts, dtype="Float32"),
                    "frame": pd.array(out_frame, dtype=object),
                }
            )

    return df.mapInPandas(run, schema=FRAME_SAMPLE_SCHEMA)


# ---------------------------------------------------------------------------
# PNG pixel codec: REAL pixel-level decode, pure stdlib + numpy.
#
# PNG's pixel layer is zlib + five per-scanline byte filters (RFC 2083 /
# the W3C PNG spec) — no codec library needed. decode_png_rgb walks the
# chunk list, inflates the concatenated IDAT stream, un-filters every
# scanline (None/Sub/Up/Average/Paeth) at the color type's byte
# displacement, and materializes truecolor directly, grayscale by
# replication, indexed through the PLTE table; encode_png_rgb is the write-time
# synthesizer (spec-valid files, real CRCs) used by the oracled query,
# which cycles ALL five filter types across rows so each unfilter path is
# exercised on every image. Reference parity: the reference pipeline
# treats media as opaque URLs + metadata (src/scrapers, SURVEY §2.10);
# pixel statistics are the engine-side extension the training-data brief
# adds on top.
# ---------------------------------------------------------------------------

_PNG_BPP = 3  # encoder/decoder fixed to 8-bit truecolor (color type 2)


#: Decode-bomb guard shared by the pixel decoders: a hostile header can
#: declare up to 65535x65535 (4.3 GB/plane baseline, ~17 GB of progressive
#: coefficients) or a ~100 KB zlib stream can inflate ~1000x — either
#: would OOM an executor task long before any validity check fires. Caps
#: at ~33.5M pixels (5792^2, larger than any training-corpus thumbnail
#: path needs); beyond it the decoders return None like any other
#: out-of-profile payload. PNG additionally bounds the inflate to the
#: declared scanline volume, so a zip-bomb IDAT never materializes.
_MAX_DECODE_PIXELS = 1 << 25


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG filter 4): nearest of left/up/up-left to a+b-c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


#: Adam7 pass grid (x0, y0, dx, dy) — PNG spec §8.2.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_filter_rows(raw, bpp: int, filters) -> bytearray:
    """Per-row filter application (type from ``filters``: int, callable
    row->type, or None to cycle 0..4) over an (h, stride) int32 sample
    matrix -> the scanline stream (filter byte + filtered bytes per
    row). Each sub-image starts with a zero prior row, which is exactly
    the per-PASS reset Adam7 requires."""
    import numpy as np

    lines = bytearray()
    for y in range(raw.shape[0]):
        f = filters(y) if callable(filters) else (y % 5 if filters is None else filters)
        row = raw[y]
        up = raw[y - 1] if y else np.zeros_like(row)
        if f == 0:
            filt = row
        elif f == 1:
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            filt = row - left
        elif f == 2:
            filt = row - up
        elif f == 3:
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            filt = row - (left + up) // 2
        elif f == 4:
            filt = np.empty_like(row)
            for i in range(row.size):
                a = int(row[i - bpp]) if i >= bpp else 0
                c = int(up[i - bpp]) if i >= bpp else 0
                filt[i] = row[i] - _paeth(a, int(up[i]), c)
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        lines.append(f)
        lines.extend((filt % 256).astype(np.uint8).tobytes())
    return lines


def _png_encode(
    raw, bpp: int, color: int, plte: bytes | None, filters, interlace: int = 0
) -> bytes:
    """Shared PNG writer: per-row filters over an (h, stride) int32
    sample matrix (``interlace=1`` splits it into the seven Adam7
    sub-images first, each filtered independently per spec), then
    IHDR/PLTE/IDAT/IEND with real CRCs. ``bpp`` is the filter
    displacement (bytes per pixel)."""
    import zlib

    h, stride = raw.shape
    w = stride // bpp
    if interlace:
        px = raw.reshape(h, w, bpp)
        lines = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                lines += _png_filter_rows(
                    sub.reshape(sub.shape[0], -1), bpp, filters
                )
    else:
        lines = _png_filter_rows(raw, bpp, filters)

    def chunk(typ: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(typ + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, interlace)
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", plte)
    return out + chunk(b"IDAT", zlib.compress(bytes(lines))) + chunk(b"IEND", b"")


def encode_png_rgb(pixels, filters=None, interlace: bool = False) -> bytes:
    """Encode an (h, w, 3) uint8 array as a spec-valid PNG (8-bit truecolor,
    real chunk CRCs; ``interlace`` stores the seven Adam7 passes).
    ``filters`` picks the per-row filter
    type (int, or a callable row→type; default: cycle 0..4 so decoders see
    every filter). Write-time utility — synthesizes query fixtures; a real
    ingest would land camera/scraper bytes instead."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    return _png_encode(
        px.astype(np.int32).reshape(h, 3 * w), 3, 2, None, filters, int(interlace)
    )


def encode_png_gray(pixels, filters=None, interlace: bool = False) -> bytes:
    """Encode an (h, w) uint8 array as a spec-valid 8-bit GRAYSCALE PNG
    (color type 0) — filter displacement bpp=1, so the same five filters
    recur over single-byte pixels. Same fixture discipline as
    :func:`encode_png_rgb`."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    return _png_encode(px.astype(np.int32), 1, 0, None, filters, int(interlace))


def encode_png_indexed(indices, palette, filters=None, interlace: bool = False) -> bytes:
    """Encode an (h, w) uint8 palette-INDEX array + palette (list of
    (r, g, b), length 1..256) as a spec-valid 8-bit INDEXED PNG (color
    type 3 with a PLTE chunk) — the screenshot/diagram layout. Same
    fixture discipline as :func:`encode_png_rgb`."""
    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    if not 1 <= len(palette) <= 256:
        raise ValueError("palette length must be 1..256")
    if int(idx.max(initial=0)) >= len(palette):
        raise ValueError("index out of palette range")
    plte = b"".join(bytes(c) for c in palette)
    return _png_encode(idx.astype(np.int32), 1, 3, plte, filters, int(interlace))


def _png_unfilter(raw: bytes, off: int, ph: int, pw: int, bpp: int):
    """Un-apply PNG row filters over one (sub-)image of ``ph`` rows of
    ``pw`` pixels starting at byte ``off`` of the inflated stream;
    returns the (ph, pw*bpp) int32 sample matrix, or None on an unknown
    filter type. The prior row starts zero — per image for the
    sequential layout, per PASS for Adam7 (the spec's reset)."""
    import numpy as np

    stride = pw * bpp
    out = np.empty((ph, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(ph):
        at = off + y * (stride + 1)
        line = raw[at : at + stride + 1]
        f = line[0]
        filt = np.frombuffer(line, dtype=np.uint8, offset=1).astype(np.int32)
        if f == 0:
            recon = filt
        elif f == 1:
            recon = (
                np.cumsum(filt.reshape(pw, bpp), axis=0, dtype=np.int64).reshape(-1)
                % 256
            ).astype(np.int32)
        elif f == 2:
            recon = (filt + prev) % 256
        elif f == 3:
            recon = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                left = recon[i - bpp] if i >= bpp else 0
                recon[i] = (filt[i] + (left + prev[i]) // 2) % 256
        elif f == 4:
            recon = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                a = int(recon[i - bpp]) if i >= bpp else 0
                c = int(prev[i - bpp]) if i >= bpp else 0
                recon[i] = (filt[i] + _paeth(a, int(prev[i]), c)) % 256
        else:
            return None
        out[y] = recon
        prev = recon
    return out


def decode_png_rgb(b: bytes | None):
    """Full pixel decode of an 8-bit PNG at the three alpha-free color
    types — truecolor (2), GRAYSCALE (0, replicated to RGB), and INDEXED
    (3, PLTE lookup) — sequential or ADAM7-INTERLACED (the seven-pass
    progressive layout; each pass unfilters independently and scatters
    into the canvas on the spec's pass grid) — returning an (h, w, 3)
    uint8 numpy array, or None for anything unrecognizable or outside
    that profile (alpha color types, tRNS transparency, 16-bit → None,
    never a crash — same null discipline as the header parsers).
    Filters 0 and 2 un-apply vectorized, 1 via per-lane cumulative sum;
    3/4 walk bytes (their recurrences are inherently sequential within a
    scanline); the filter displacement is the color type's bpp (3 or 1)."""
    import zlib

    import numpy as np

    if not b or b[:8] != _PNG_SIG:
        return None
    i, n = 8, len(b)
    w = h = -1
    color = -1
    plte = None
    idat = bytearray()
    try:
        while i + 8 <= n:
            (ln,) = struct.unpack(">I", b[i : i + 4])
            typ = b[i + 4 : i + 8]
            data = b[i + 8 : i + 8 + ln]
            if len(data) < ln:
                return None
            if typ == b"IHDR":
                w, h, depth, color, comp, filt, interlace = struct.unpack(
                    ">IIBBBBB", data
                )
                if (
                    depth != 8
                    or color not in (0, 2, 3)
                    or comp != 0
                    or filt != 0
                    or interlace not in (0, 1)
                ):
                    return None
            elif typ == b"PLTE":
                if ln % 3 or not 3 <= ln <= 768:
                    return None
                plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            elif typ == b"tRNS":
                return None  # transparency: out of profile
            elif typ == b"IDAT":
                idat.extend(data)
            elif typ == b"IEND":
                break
            i += 12 + ln  # length + type + data + CRC
        if w <= 0 or h <= 0 or not idat or w * h > _MAX_DECODE_PIXELS:
            return None
        bpp = 3 if color == 2 else 1
        if color == 3 and plte is None:
            return None
        stride = w * bpp
        if interlace:
            passes = [
                (x0, y0, dx, dy,
                 (w - x0 + dx - 1) // dx if w > x0 else 0,
                 (h - y0 + dy - 1) // dy if h > y0 else 0)
                for x0, y0, dx, dy in _ADAM7
            ]
            expect = sum(ph * (pw * bpp + 1) for *_, pw, ph in passes if pw and ph)
        else:
            expect = h * (stride + 1)
        # bounded inflate: ask for at most expect+1 bytes so a zip-bomb
        # IDAT is detected by the length check without ever materializing
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expect + 1)
    except (zlib.error, struct.error, OverflowError):
        return None
    if len(raw) != expect or d.decompress(b"", 1):
        return None
    if interlace:
        px = np.empty((h, w, bpp), dtype=np.int32)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            if not pw or not ph:
                continue
            sub = _png_unfilter(raw, off, ph, pw, bpp)
            if sub is None:
                return None
            px[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
            off += ph * (pw * bpp + 1)
        out = px.reshape(h, stride)
    else:
        out = _png_unfilter(raw, 0, h, w, bpp)
        if out is None:
            return None
    if color == 2:
        return out.reshape(h, w, 3).astype(np.uint8)
    if color == 0:
        g = out.reshape(h, w).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    idx = out.reshape(h, w).astype(np.uint8)
    if int(idx.max(initial=0)) >= plte.shape[0]:
        return None
    return plte[idx]


PIXEL_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_px", LongType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
    ]
)


def extract_pixel_stats(df: DataFrame, decoder=None) -> DataFrame:
    """Distributed pixel-level statistics over still-image payloads:
    per-image RGB channel sums (exact int64) and means from the REAL
    decode, PNG (``decode_png_rgb``) by default. Any RGB decoder slots in
    behind ``decoder=``: ``decode_jpeg_rgb`` (color JPEG at every
    supported sampling, baseline or progressive), ``decode_gif_rgb``,
    ``decode_bmp_rgb``, ``decode_tiff_rgb`` or a native codec, all with
    the same output schema, so the formats union cleanly. Undecodable
    or zero-size payloads yield NULL stats."""
    decoder = decoder or decode_png_rgb

    def per_item(b):
        stats = _rgb_stats(decoder(b))
        return None if stats is None else [stats]

    return _map_payloads(df, PIXEL_STATS_SCHEMA, per_item)


def _rgb_stats(px):
    """(width, height, n_px, sum_r, sum_g, sum_b, mean_r, mean_g, mean_b)
    of one (h, w, 3) uint8 frame, sums exact in int64; None for a failed
    or zero-size decode."""
    if _empty(px):
        return None
    h, w, _ = px.shape
    n = w * h
    s = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
    return (w, h, n, int(s[0]), int(s[1]), int(s[2]), s[0] / n, s[1] / n, s[2] / n)


# ---------------------------------------------------------------------------
# GIF LZW codec: REAL pixel-level decode, pure stdlib + numpy — closes the
# last header-only still-image format. GIF's pixel layer is variable-width
# LSB-first LZW (GIF87a/89a Appendix F) over palette indices: no float
# transforms, so decode is bit-lossless and a SQL oracle can restate pixels
# straight from palette/index formulas. encode_gif_rgb is the write-time
# synthesizer (real growing-dictionary LZW with clear-code resets at 4096);
# decode_gif_frames walks the block stream (extensions skipped, global or
# per-frame local color tables, 4-pass interlace de-woven) and returns one
# full-canvas RGB frame per image descriptor. Profile honesty: partial-
# canvas frames, transparency, and disposal compositing return None —
# animation semantics beyond stacked full frames are a renderer's job, not
# a stats engine's. Decode-bomb guard: total pixels across frames capped
# by _MAX_DECODE_PIXELS.
# ---------------------------------------------------------------------------


def _gif_lzw_encode(indices, mcs: int) -> bytes:
    """GIF-variant LZW over a flat index sequence: variable code width
    starting at mcs+1, LSB-first bit packing, CLEAR emitted first and at
    dictionary ceiling (4096), END terminates. Returns the raw code
    stream (caller sub-blocks it)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh():
        return {bytes((j,)): j for j in range(1 << mcs)}

    table = fresh()
    next_code = end + 1
    width = mcs + 1
    put(clear, width)
    run = b""
    for v in indices:
        cand = run + bytes((int(v),))
        if cand in table:
            run = cand
            continue
        put(table[run], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == 4097:  # dictionary full: reset
            put(clear, width)
            table = fresh()
            next_code = end + 1
            width = mcs + 1
        run = bytes((int(v),))
    if run:
        put(table[run], width)
        # The decoder (like every standard GIF decoder) adds a table entry
        # for EVERY received data code — including this final one — and
        # grows its code width when that entry lands on the 1<<width
        # boundary. Mirror that virtual assignment here so the END marker
        # is written at the width the decoder will read it with (giflib
        # does the same before its EOF code); without it, a stream whose
        # last data code sits exactly on the boundary desyncs (~1/2^width
        # of random frames).
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
    put(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, mcs: int, expect: int) -> bytearray | None:
    """Inverse of :func:`_gif_lzw_encode`: decodes exactly ``expect``
    indices (bounded — a hostile stream cannot overshoot), handling the
    KwKwK self-reference case and clear-code resets. None on any
    malformation."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    pos = acc = nbits = 0
    width = mcs + 1
    table: list[bytes] = [bytes((j,)) for j in range(1 << mcs)] + [b"", b""]
    prev: bytes | None = None

    def get() -> int | None:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                return None
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    while True:
        code = get()
        if code is None:
            return None
        if code == clear:
            table = [bytes((j,)) for j in range(1 << mcs)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:  # table frozen at 12-bit capacity
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            return None
        if len(table) == (1 << width) and width < 12:
            width += 1
        out.extend(entry)
        if len(out) > expect:
            return None
        prev = entry
    return out if len(out) == expect else None


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def encode_gif_rgb(indices, palette, interlace: bool = False) -> bytes:
    """Encode an (h, w) uint8 palette-INDEX array + palette (list of
    (r, g, b) tuples, length a power of two >= 2) as a spec-valid GIF89a
    with a global color table and real LZW (growing dictionary, clear-
    code resets). ``interlace`` stores rows in the 4-pass order so the
    decoder's de-weave runs. Write-time fixture synthesizer, same
    discipline as ``encode_png_rgb`` — any standard GIF decoder reads
    the output."""
    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    p = len(palette)
    if p < 2 or p > 256 or p & (p - 1):
        raise ValueError("palette length must be a power of two in 2..256")
    if int(idx.max(initial=0)) >= p:
        raise ValueError("index out of palette range")
    bits = max(1, (p - 1).bit_length())
    mcs = max(2, bits)
    rows = idx
    if interlace:
        order = [y for start, step in _GIF_INTERLACE_PASSES for y in range(start, h, step)]
        rows = idx[order]
    lzw = _gif_lzw_encode(rows.reshape(-1), mcs)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | (bits - 1))  # global color table flag + size
    out += b"\x00\x00"  # background index, aspect
    for r, g, b2 in palette:
        out += bytes((r, g, b2))
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out.append(0x40 if interlace else 0x00)
    out.append(mcs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif_frames(b: bytes | None):
    """Full pixel decode of a GIF87a/89a: returns a list of (h, w, 3)
    uint8 RGB frames (one per image descriptor, in stream order), or None
    outside the profile. Profile: full-canvas opaque frames (left=top=0,
    frame dims = canvas dims), global and/or per-frame local color
    tables, interlaced or sequential row order; extensions (GCE without
    transparency, comments, application blocks) are skipped; GCEs
    declaring TRANSPARENCY return None (compositing semantics), as do
    partial-canvas frames. Same null discipline and decode-bomb caps as
    the other pixel decoders."""
    import numpy as np

    if not b or b[:6] not in (b"GIF87a", b"GIF89a") or len(b) < 13:
        return None
    try:
        w, h = struct.unpack("<HH", b[6:10])
        if w <= 0 or h <= 0 or w * h > _MAX_DECODE_PIXELS:
            return None
        flags = b[10]
        i = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 0x07)
            gct = np.frombuffer(b[i : i + 3 * n], dtype=np.uint8).reshape(n, 3)
            if gct.shape[0] != n:
                return None
            i += 3 * n
        frames = []
        total_px = 0
        while i < len(b):
            blk = b[i]
            if blk == 0x3B:  # trailer
                break
            if blk == 0x21:  # extension: label + sub-blocks
                if i + 2 > len(b):
                    return None
                label = b[i + 1]
                i += 2
                while True:
                    if i >= len(b):
                        return None
                    sz = b[i]
                    if label == 0xF9 and sz == 4 and b[i + 1] & 0x01:
                        return None  # transparency: out of profile
                    i += 1 + sz
                    if sz == 0:
                        break
            elif blk == 0x2C:  # image descriptor
                if i + 10 > len(b):
                    return None
                left, top, fw, fh = struct.unpack("<HHHH", b[i + 1 : i + 9])
                iflags = b[i + 9]
                i += 10
                if (left, top) != (0, 0) or (fw, fh) != (w, h):
                    return None  # partial-canvas frame: out of profile
                ct = gct
                if iflags & 0x80:
                    n = 2 << (iflags & 0x07)
                    ct = np.frombuffer(b[i : i + 3 * n], dtype=np.uint8).reshape(n, 3)
                    if ct.shape[0] != n:
                        return None
                    i += 3 * n
                if ct is None:
                    return None
                mcs = b[i]
                i += 1
                if not 2 <= mcs <= 11:
                    return None
                data = bytearray()
                while True:
                    if i >= len(b):
                        return None
                    sz = b[i]
                    chunk = b[i + 1 : i + 1 + sz]
                    if len(chunk) != sz:
                        return None  # truncated sub-block
                    data += chunk
                    i += 1 + sz
                    if sz == 0:
                        break
                total_px += w * h
                if total_px > _MAX_DECODE_PIXELS:
                    return None
                idx = _gif_lzw_decode(bytes(data), mcs, w * h)
                if idx is None:
                    return None
                arr = np.frombuffer(bytes(idx), dtype=np.uint8).reshape(h, w)
                if int(arr.max(initial=0)) >= ct.shape[0]:
                    return None
                if iflags & 0x40:  # interlaced: de-weave the 4-pass order
                    order = [
                        y
                        for start, step in _GIF_INTERLACE_PASSES
                        for y in range(start, h, step)
                    ]
                    de = np.empty_like(arr)
                    de[order] = arr
                    arr = de
                frames.append(ct[arr])
            else:
                return None
        if not frames:
            return None
        return frames
    except (struct.error, IndexError, ValueError):
        return None


def decode_gif_rgb(b: bytes | None):
    """First-frame pixel decode of a GIF (the still-image stats path —
    inject into ``extract_pixel_stats`` via its ``decoder=`` seam):
    (h, w, 3) uint8 RGB, or None outside the profile
    (:func:`decode_gif_frames`)."""
    got = decode_gif_frames(b)
    return None if got is None else got[0]


def encode_gif_animation(size, palette, frames, bg_index: int = 0) -> bytes:
    """Encode a GIF89a ANIMATION: full logical-screen compositing
    semantics — each frame a dict with ``indices`` ((fh, fw) uint8
    palette indices), ``left``/``top`` placement, ``disposal`` (0-3) and
    optional ``transparent`` index, written as a Graphic Control
    Extension + (possibly partial-canvas) image descriptor. Write-time
    fixture synthesizer for :func:`decode_gif_animation`; any standard
    GIF decoder composites the output identically."""
    import numpy as np

    w, h = size
    p = len(palette)
    if p < 2 or p > 256 or p & (p - 1):
        raise ValueError("palette length must be a power of two in 2..256")
    bits = max(1, (p - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | (bits - 1))
    out += bytes((bg_index, 0))
    for r, g, b2 in palette:
        out += bytes((r, g, b2))
    for fr in frames:
        idx = np.asarray(fr["indices"], dtype=np.uint8)
        fh, fw = idx.shape
        left, top = int(fr.get("left", 0)), int(fr.get("top", 0))
        disposal = int(fr.get("disposal", 0))
        trans = fr.get("transparent")
        packed = (disposal & 0x07) << 2
        tidx = 0
        if trans is not None:
            packed |= 0x01
            tidx = int(trans)
        out += bytes((0x21, 0xF9, 0x04, packed, 0, 0, tidx, 0x00))
        out += b"\x2c" + struct.pack("<HHHH", left, top, fw, fh)
        out.append(0x00)
        mcs = max(2, bits)
        out.append(mcs)
        lzw = _gif_lzw_encode(idx.reshape(-1), mcs)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0x00)
    out += b"\x3b"
    return bytes(out)


def decode_gif_animation(b: bytes | None):
    """Full GIF89a ANIMATION decode with compositing: returns the list of
    composited (h, w, 3) uint8 RGB CANVAS frames (what a viewer shows
    after each image), or None outside the profile.

    Composites per the GIF89a 23.c/26 semantics the still-frame profile
    of :func:`decode_gif_frames` deliberately excludes:

    - partial-canvas frames placed at (left, top), bounds-checked;
    - Graphic Control Extension transparency — pixels equal to the
      transparent index leave the underlying canvas untouched;
    - disposal methods 0/1 (leave), 2 (restore the frame's REGION to the
      global background color — this decoder's documented choice of the
      spec's underdefined "background" for an RGB output), and
      3 (restore to the canvas state before the frame was applied).

    The initial canvas is the global background color; a GIF without a
    global color table is out of profile (no background to composite
    over). Same decode-bomb caps and null discipline as the other pixel
    decoders: every emitted canvas counts toward ``_MAX_DECODE_PIXELS``.
    """
    import numpy as np

    if not b or b[:6] not in (b"GIF87a", b"GIF89a") or len(b) < 13:
        return None
    try:
        w, h = struct.unpack("<HH", b[6:10])
        if w <= 0 or h <= 0 or w * h > _MAX_DECODE_PIXELS:
            return None
        flags, bg_index = b[10], b[11]
        i = 13
        if not flags & 0x80:
            return None  # no global table: no defined background
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(b[i : i + 3 * n], dtype=np.uint8).reshape(n, 3)
        if gct.shape[0] != n:
            return None
        i += 3 * n
        if bg_index >= n:
            return None
        canvas = np.empty((h, w, 3), dtype=np.uint8)
        canvas[:, :] = gct[bg_index]
        frames = []
        total_px = 0
        disposal, trans = 0, None  # pending GCE state (applies to next image)
        while i < len(b):
            blk = b[i]
            if blk == 0x3B:
                break
            if blk == 0x21:
                if i + 2 > len(b):
                    return None
                label = b[i + 1]
                i += 2
                while True:
                    if i >= len(b):
                        return None
                    sz = b[i]
                    if label == 0xF9 and sz == 4:
                        packed = b[i + 1]
                        disposal = (packed >> 2) & 0x07
                        trans = b[i + 4] if packed & 0x01 else None
                    i += 1 + sz
                    if sz == 0:
                        break
            elif blk == 0x2C:
                if i + 10 > len(b):
                    return None
                left, top, fw, fh = struct.unpack("<HHHH", b[i + 1 : i + 9])
                iflags = b[i + 9]
                i += 10
                if fw <= 0 or fh <= 0 or left + fw > w or top + fh > h:
                    return None
                ct = gct
                if iflags & 0x80:
                    cn = 2 << (iflags & 0x07)
                    ct = np.frombuffer(b[i : i + 3 * cn], dtype=np.uint8).reshape(cn, 3)
                    if ct.shape[0] != cn:
                        return None
                    i += 3 * cn
                mcs = b[i]
                i += 1
                if not 2 <= mcs <= 11:
                    return None
                data = bytearray()
                while True:
                    if i >= len(b):
                        return None
                    sz = b[i]
                    chunk = b[i + 1 : i + 1 + sz]
                    if len(chunk) != sz:
                        return None
                    data += chunk
                    i += 1 + sz
                    if sz == 0:
                        break
                total_px += w * h + fw * fh
                if total_px > _MAX_DECODE_PIXELS:
                    return None
                idx = _gif_lzw_decode(bytes(data), mcs, fw * fh)
                if idx is None:
                    return None
                arr = np.frombuffer(bytes(idx), dtype=np.uint8).reshape(fh, fw)
                opaque = (
                    np.ones((fh, fw), dtype=bool) if trans is None else arr != trans
                )
                if int(arr[opaque].max(initial=0)) >= ct.shape[0]:
                    return None
                if iflags & 0x40:
                    order = [
                        y
                        for start, step in _GIF_INTERLACE_PASSES
                        for y in range(start, fh, step)
                    ]
                    de = np.empty_like(arr)
                    de[order] = arr
                    arr = de
                    dm = np.empty_like(opaque)
                    dm[order] = opaque
                    opaque = dm
                region = canvas[top : top + fh, left : left + fw]
                saved = region.copy() if disposal == 3 else None
                region[opaque] = ct[arr[opaque]]
                frames.append(canvas.copy())
                if disposal == 2:
                    region[:, :] = gct[bg_index]
                elif disposal == 3:
                    canvas[top : top + fh, left : left + fw] = saved
                disposal, trans = 0, None  # GCE scope ends with its image
            else:
                return None
        if not frames:
            return None
        return frames
    except (struct.error, IndexError, ValueError):
        return None


# ---------------------------------------------------------------------------
# BMP codec: REAL pixel decode of the Windows bitmap format (the
# screenshot/export format crawls surface constantly) — uncompressed
# BI_RGB only, which is a pure layout transform: 24-bit BGR or 8-bit
# palettized rows, 4-byte row stride, bottom-up (or top-down via
# negative height). No entropy coder, so numpy does the whole decode
# vectorized; RLE8/RLE4/bitfield variants stay behind the seam.
# ---------------------------------------------------------------------------


def encode_bmp_rgb(rgb, top_down: bool = False) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a spec-valid 24-bit BI_RGB
    BMP (BITMAPINFOHEADER, BGR byte order, 4-byte row stride, bottom-up
    unless ``top_down``). Write-time fixture synthesizer, same
    discipline as ``encode_png_rgb`` — any standard viewer reads it."""
    import numpy as np

    a = np.asarray(rgb, dtype=np.uint8)
    h, w, _ = a.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = a[:, :, ::-1].reshape(h, w * 3)  # RGB -> BGR
    if not top_down:
        rows = rows[::-1]
    data = rows.tobytes()
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24, 0,
        len(data), 2835, 2835, 0, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 14 + 40)
    return header + info + data


def encode_bmp_indexed(indices, palette, top_down: bool = False) -> bytes:
    """Encode an (h, w) uint8 palette-INDEX array + palette (list of
    (r, g, b), length <= 256) as an 8-bit BI_RGB BMP with a BGRX color
    table. Write-time fixture synthesizer."""
    import numpy as np

    a = np.asarray(indices, dtype=np.uint8)
    h, w = a.shape
    stride = (w + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w] = a
    if not top_down:
        rows = rows[::-1]
    data = rows.tobytes()
    table = b"".join(bytes((b_, g, r, 0)) for r, g, b_ in palette)
    off = 14 + 40 + len(table)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 8, 0,
        len(data), 2835, 2835, len(palette), 0,
    )
    header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    return header + info + table + data


def encode_bmp_rle8(indices, palette) -> bytes:
    """Encode an (h, w) uint8 palette-INDEX array + palette as an 8-bit
    BI_RLE8 BMP (run packets + end-of-line/end-of-bitmap escapes,
    bottom-up as the spec requires for RLE). Write-time fixture
    synthesizer; any standard viewer reads the output."""
    import numpy as np

    a = np.asarray(indices, dtype=np.uint8)
    h, w = a.shape
    out = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up row order
        x = 0
        row = a[y]
        while x < w:
            run = 1
            while x + run < w and row[x + run] == row[x] and run < 255:
                run += 1
            out += bytes((run, int(row[x])))
            x += run
        out += b"\x00\x00"  # end of line
    out += b"\x00\x01"  # end of bitmap
    data = bytes(out)
    table = b"".join(bytes((b_, g, r, 0)) for r, g, b_ in palette)
    off = 14 + 40 + len(table)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(data), 2835, 2835, len(palette), 0,
    )
    header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    return header + info + table + data


def _bmp_rle8_decode(data: bytes, w: int, h: int):
    """BI_RLE8 stream -> (h, w) uint8 index array (bottom-up storage
    unwound to top-down), or None on malformation. Handles all four
    escape forms: end-of-line, end-of-bitmap, delta (skipped pixels
    stay 0, the spec's 'undefined' rendered as most decoders do), and
    absolute mode with its 2-byte alignment padding. Cursor is bounds-
    checked on every packet — a hostile stream cannot write outside
    the (h, w) canvas."""
    import numpy as np

    px = np.zeros((h, w), dtype=np.uint8)  # row 0 = BOTTOM scanline
    x = y = i = 0
    n = len(data)
    while i + 1 < n:
        c, v = data[i], data[i + 1]
        i += 2
        if c > 0:  # run packet
            if y >= h or x + c > w:
                return None
            px[y, x : x + c] = v
            x += c
            continue
        if v == 0:  # end of line
            x, y = 0, y + 1
            continue
        if v == 1:  # end of bitmap
            return px[::-1]  # unwind bottom-up to top-down
        if v == 2:  # delta
            if i + 2 > n:
                return None
            x, y = x + data[i], y + data[i + 1]
            i += 2
            if x > w or y > h:
                return None
            continue
        # absolute mode: v literal bytes, word-aligned
        if y >= h or x + v > w or i + v > n:
            return None
        px[y, x : x + v] = np.frombuffer(data, np.uint8, count=v, offset=i)
        x += v
        i += v + (v & 1)
    return None  # ran out of bytes before end-of-bitmap


def decode_bmp_rgb(b: bytes | None):
    """Full pixel decode of a BMP payload at the supported profile —
    BITMAPINFOHEADER (or longer v4/v5 headers, which embed it as a
    prefix), BI_RGB (24-bit BGR or 8-bit palettized, bottom-up or
    top-down) plus BI_RLE8 (8-bit run-length, bottom-up, all four
    escape forms) — returning (h, w, 3) uint8 RGB, or None for anything
    unrecognizable or outside that profile (RLE4/bitfields/1/4/16/
    32-bit, truncated rows or color table → None, never a crash).
    Decode-bomb guarded by ``_MAX_DECODE_PIXELS`` like every decoder
    here; the RLE cursor is bounds-checked per packet."""
    import numpy as np

    if not b or len(b) < 54 or b[:2] != b"BM":
        return None
    (off,) = struct.unpack_from("<I", b, 10)
    (isz,) = struct.unpack_from("<I", b, 14)
    if isz < 40 or len(b) < 14 + isz:
        return None
    w, h_raw, planes, bits, comp = struct.unpack_from("<iiHHI", b, 18)
    (clr_used,) = struct.unpack_from("<I", b, 46)
    if planes != 1 or comp not in (0, 1) or w <= 0 or h_raw == 0:
        return None
    if comp == 1 and (bits != 8 or h_raw < 0):
        return None  # RLE8 is 8-bit bottom-up only (spec)
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w * h > _MAX_DECODE_PIXELS:
        return None
    if bits == 24:
        stride = (w * 3 + 3) & ~3
        if off + stride * h > len(b):
            return None  # truncated pixel rows
        rows = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=off)
        rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
        rgb = rows[:, :, ::-1]  # BGR -> RGB
        return np.ascontiguousarray(rgb if top_down else rgb[::-1])
    if bits == 8:
        n_colors = clr_used or 256
        tbl_at = 14 + isz
        if n_colors > 256 or tbl_at + 4 * n_colors > len(b):
            return None  # truncated color table
        table = np.frombuffer(
            b, dtype=np.uint8, count=4 * n_colors, offset=tbl_at
        ).reshape(n_colors, 4)[:, 2::-1]  # BGRX -> RGB
        if comp == 1:
            idx = _bmp_rle8_decode(b[off:], w, h)
            if idx is None or int(idx.max()) >= n_colors:
                return None
            return np.ascontiguousarray(table[idx])
        stride = (w + 3) & ~3
        if off + stride * h > len(b):
            return None
        idx = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=off)
        idx = idx.reshape(h, stride)[:, :w]
        if int(idx.max()) >= n_colors:
            return None  # index past the color table
        rgb = table[idx]
        return np.ascontiguousarray(rgb if top_down else rgb[::-1])
    return None


# ---------------------------------------------------------------------------
# WAV PCM + G.711 + IMA ADPCM codec: REAL sample-level decode, pure
# stdlib + numpy — the audio twin of the PNG pixel codec above. 16-bit
# integer PCM is raw little-endian samples inside the RIFF 'data' chunk
# (no entropy coder); the G.711 telephony pair (u-law format 7 / A-law
# format 6) expands 8-bit codes through the exact ITU-T integer tables;
# IMA/DVI ADPCM (format 0x11, the classic 4-bit block codec) runs the
# published step-table predictor per block — full waveform
# reconstruction, no codec library. Perceptual compressed audio
# (MP3/AAC/Opus) stays behind the documented seam.
# ---------------------------------------------------------------------------


def encode_wav_pcm(samples, sample_rate: int, channels: int) -> bytes:
    """Encode interleaved int16 samples (flat array, frame-major) as a
    spec-valid RIFF/WAVE file (PCM format 1, 16-bit). Write-time fixture
    synthesizer, same discipline as ``encode_png_rgb``."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int16)
    data = s.tobytes()  # numpy int16 is little-endian on all our platforms
    block = channels * 2
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, sample_rate, sample_rate * block, block, 16
    )
    body = b"WAVE" + fmt + b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        body += b"\x00"  # RIFF chunks are word-aligned
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_pcm(b: bytes | None):
    """Full sample decode of a RIFF/WAVE payload at the supported
    formats — tag 1 integer PCM at 16-bit (native) or 8-bit (unsigned,
    expanded to int16 full scale as (v-128)<<8, the SoX/ffmpeg
    convention), the G.711 telephony pair,
    tag 7 (u-law) / tag 6 (A-law), whose 8-bit codes expand through the
    exact ITU-T integer tables (``_g711_tables``), IEEE float PCM
    (tag 3 at 32 bits, scaled/clipped to int16 by the f32 -> s16
    convention; NaN/Inf payloads are out of profile), and IMA/DVI ADPCM
    (tag 0x11 at 4 bits, block-predictive — ``_decode_ima_adpcm``) —
    returning (channels, sample_rate, samples) with ``samples`` a flat
    interleaved int16 numpy array, or None for anything unrecognizable
    or outside that profile (float64/24-bit/perceptual formats, missing
    or truncated chunks → None, never a crash). Walks the chunk list
    with RIFF word alignment; ignores unknown chunks (LIST/fact/cue)."""
    import numpy as np

    if not b or len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, n = 12, len(b)
    channels = rate = bits = fmt_tag = None
    block_align = spb = None
    data = None
    while i + 8 <= n:
        cid = b[i : i + 4]
        (sz,) = struct.unpack("<I", b[i + 4 : i + 8])
        payload = b[i + 8 : i + 8 + sz]
        if len(payload) < sz:
            return None  # declared size runs past the buffer: truncated
        if cid == b"fmt " and sz >= 16:
            fmt_tag, channels, rate, _, block_align, bits = struct.unpack(
                "<HHIIHH", payload[:16]
            )
            # IMA ADPCM carries wSamplesPerBlock in the extended fmt
            # (cbSize >= 2); out-of-range values fail the block-geometry
            # check below rather than crashing here.
            if sz >= 20:
                (spb,) = struct.unpack("<H", payload[18:20])
        elif cid == b"data":
            data = payload
        i += 8 + sz + (sz & 1)  # word alignment
    if not channels or not rate or data is None:
        return None
    if fmt_tag == 1 and bits == 16:
        if len(data) % (channels * 2):
            return None  # partial frame
        return channels, rate, np.frombuffer(data, dtype="<i2")
    if fmt_tag == 1 and bits == 8:
        # 8-bit PCM is UNSIGNED with a 128 offset (the WAV spec quirk);
        # expand to int16 full scale as (v - 128) << 8 — the SoX/ffmpeg
        # u8 -> s16 convention — so downstream stats/resampling see one
        # sample domain regardless of source width.
        if len(data) % channels:
            return None  # partial frame
        v = np.frombuffer(data, dtype=np.uint8).astype(np.int16)
        return channels, rate, ((v - 128) << 8).astype(np.int16)
    if fmt_tag in (6, 7) and bits == 8:
        if len(data) % channels:
            return None  # partial frame
        table = _ULAW_TO_PCM if fmt_tag == 7 else _ALAW_TO_PCM
        return channels, rate, table[np.frombuffer(data, dtype=np.uint8)]
    if fmt_tag == 3 and bits == 32:
        # IEEE float PCM: nominal [-1, 1) scales by 32768 and clips to
        # int16 (the SoX/ffmpeg f32 -> s16 convention), keeping every
        # downstream stat in one sample domain.
        if len(data) % (channels * 4):
            return None  # partial frame
        f = np.frombuffer(data, dtype="<f4").astype(np.float64)
        if not np.isfinite(f).all():
            return None  # NaN/Inf: out of profile
        scaled = np.floor(f * 32768.0 + 0.5)
        return channels, rate, np.clip(scaled, -32768, 32767).astype(np.int16)
    if fmt_tag == 0x11 and bits == 4:
        samples = _decode_ima_adpcm(data, channels, block_align, spb)
        return None if samples is None else (channels, rate, samples)
    return None


# IMA/DVI ADPCM step-size table (89 entries) and index-adjust table for
# the low 3 bits of a nibble — the published constants from the IMA
# "Recommended Practices for Enhancing Digital Audio Compatibility"
# (rev 3.00), identical in the Microsoft WAVE format-0x11 registration.
_ADPCM_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_ADPCM_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)


def _adpcm_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: (predictor, index) -> updated pair.
    The diff reconstruction uses the exact bit-tested shift sum (not the
    (2n+1)*step/8 approximation), so encoder and decoder share one
    arithmetic and the reconstruction is deterministic."""
    step = _ADPCM_STEPS[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    if nibble & 8:
        diff = -diff
    pred = min(32767, max(-32768, pred + diff))
    index = min(88, max(0, index + _ADPCM_INDEX_ADJ[nibble & 7]))
    return pred, index


def _decode_ima_adpcm(data: bytes, channels, block_align, spb):
    """Decode an IMA ADPCM (WAV format 0x11) data chunk into a flat
    interleaved int16 array, or None outside the profile: mono/stereo,
    whole blocks only, block geometry consistent with wSamplesPerBlock
    (spb = (block_align - 4*channels) * 2 / channels + 1 — the standard
    layout where every data byte holds two nibbles of one channel and
    stereo interleaves 4-byte channel words). Per-block: a 4-byte header
    per channel (int16 seed predictor, step index, reserved), then
    nibbles low-first; the seed is emitted as the block's first sample,
    the standard header-counts-as-sample-one convention."""
    import numpy as np

    if channels not in (1, 2) or not block_align or spb is None or spb < 1:
        return None
    body_len = block_align - 4 * channels
    if body_len <= 0 or (channels == 2 and body_len % 8):
        return None  # stereo 4-byte channel words must fill exactly
    if spb != body_len * 2 // channels + 1:
        return None
    if not data or len(data) % block_align:
        return None  # whole blocks only
    out = np.empty(len(data) // block_align * spb * channels, dtype=np.int16)
    w = 0
    for base in range(0, len(data), block_align):
        block = data[base : base + block_align]
        preds, idxs = [], []
        for ch in range(channels):
            (p,) = struct.unpack_from("<h", block, 4 * ch)
            ix = block[4 * ch + 2]
            if ix > 88:
                return None
            preds.append(p)
            idxs.append(ix)
            out[w + ch] = p
        w += channels
        body = block[4 * channels :]
        if channels == 1:
            decoded = 0
            for byte in body:
                for nib in (byte & 0xF, byte >> 4):
                    if decoded >= spb - 1:
                        break  # trailing pad nibble(s)
                    preds[0], idxs[0] = _adpcm_step(preds[0], idxs[0], nib)
                    out[w] = preds[0]
                    w += 1
                    decoded += 1
        else:
            # stereo: alternating 4-byte words, 8 nibbles per channel
            decoded = [0, 0]
            for word in range(0, len(body), 8):
                for ch in (0, 1):
                    for j in range(4):
                        byte = body[word + 4 * ch + j]
                        for nib in (byte & 0xF, byte >> 4):
                            if decoded[ch] >= spb - 1:
                                break
                            preds[ch], idxs[ch] = _adpcm_step(
                                preds[ch], idxs[ch], nib
                            )
                            out[w + 2 * decoded[ch] + ch] = preds[ch]
                            decoded[ch] += 1
            w += 2 * (spb - 1)
    return out


def encode_wav_adpcm(samples, sample_rate: int, channels: int, spb: int = 505) -> bytes:
    """Encode interleaved int16 samples as IMA ADPCM (WAV format 0x11):
    the standard greedy nibble quantizer over `_adpcm_step`'s exact
    arithmetic, step index carried across blocks, each block seeded with
    its first actual sample. Lossy against the input but deterministic —
    decode(encode(x)) equals the encoder's internal reconstruction
    bit-exactly, which is what the round-trip tests pin. The frame count
    must fill whole blocks (spb odd keeps nibble pairs byte-aligned).
    Write-time fixture synthesizer, same discipline as
    ``encode_wav_pcm``; any standard reader (ffmpeg, SoX) accepts the
    layout."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int16)
    if channels not in (1, 2) or spb < 2 or spb % 2 == 0:
        raise ValueError("channels must be 1/2 and spb an odd >= 3")
    if channels == 2 and (spb - 1) % 8:
        raise ValueError("stereo needs spb - 1 divisible by 8 (word interleave)")
    if s.size % channels or (s.size // channels) % spb:
        raise ValueError("sample count must fill whole blocks")
    block_align = 4 * channels + (spb - 1) * channels // 2
    frames = s.reshape(-1, channels)
    idxs = [0] * channels
    blocks = bytearray()
    for b0 in range(0, len(frames), spb):
        chunk = frames[b0 : b0 + spb]
        preds = [int(chunk[0, ch]) for ch in range(channels)]
        for ch in range(channels):
            blocks += struct.pack("<hBB", preds[ch], idxs[ch], 0)
        nibs: list[list[int]] = [[] for _ in range(channels)]
        for row in chunk[1:]:
            for ch in range(channels):
                step = _ADPCM_STEPS[idxs[ch]]
                delta = int(row[ch]) - preds[ch]
                nib = 0
                if delta < 0:
                    nib = 8
                    delta = -delta
                if delta >= step:
                    nib |= 4
                    delta -= step
                if delta >= step >> 1:
                    nib |= 2
                    delta -= step >> 1
                if delta >= step >> 2:
                    nib |= 1
                preds[ch], idxs[ch] = _adpcm_step(preds[ch], idxs[ch], nib)
                nibs[ch].append(nib)
        # spb odd -> spb - 1 nibbles per channel, already byte/word exact
        if channels == 1:
            for j in range(0, spb - 1, 2):
                blocks.append(nibs[0][j] | (nibs[0][j + 1] << 4))
        else:
            for w0 in range(0, spb - 1, 8):
                for ch in (0, 1):
                    for j in range(w0, w0 + 8, 2):
                        blocks.append(nibs[ch][j] | (nibs[ch][j + 1] << 4))
    return wrap_wav_adpcm(bytes(blocks), sample_rate, channels, block_align, spb)


def wrap_wav_adpcm(
    blocks: bytes, sample_rate: int, channels: int, block_align: int, spb: int
) -> bytes:
    """Wrap raw IMA ADPCM block bytes in a spec-valid RIFF/WAVE container
    (format tag 0x11, 4 bits/sample, extended fmt carrying
    wSamplesPerBlock, plus the 'fact' chunk the spec requires for
    compressed formats). Split out of :func:`encode_wav_adpcm` so oracle
    fixtures can assemble closed-form nibble streams directly."""
    n_blocks = len(blocks) // block_align
    byte_rate = sample_rate * block_align // spb
    fmt = b"fmt " + struct.pack(
        "<IHHIIHHHH", 20, 0x11, channels, sample_rate, byte_rate,
        block_align, 4, 2, spb,
    )
    fact = b"fact" + struct.pack("<II", 4, n_blocks * spb)
    body = b"WAVE" + fmt + fact + b"data" + struct.pack("<I", len(blocks)) + blocks
    if len(blocks) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_float32(samples, sample_rate: int, channels: int) -> bytes:
    """Encode interleaved float samples (flat, frame-major, nominal
    [-1, 1)) as a spec-valid RIFF/WAVE file (IEEE float format 3,
    32-bit), with the fact chunk the spec requires for non-PCM formats.
    Write-time fixture synthesizer."""
    import numpy as np

    s = np.asarray(samples, dtype="<f4")
    data = s.tobytes()
    block = channels * 4
    fmt = b"fmt " + struct.pack(
        "<IHHIIHHH", 18, 3, channels, sample_rate, sample_rate * block, block, 32, 0
    )
    fact = b"fact" + struct.pack("<II", 4, s.size // channels)
    body = b"WAVE" + fmt + fact + b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _g711_tables():
    """The 256-entry G.711 expansion tables, computed from the published
    integer formulas (ITU-T G.711 / the canonical Sun ulaw.c arithmetic):

    u-law:  u = ~U & 0xFF; t = ((u & 0xF)*8 + 132) << ((u >> 4) & 7);
            sample = 132 - t if u & 0x80 else t - 132
    A-law:  a = A ^ 0x55; q = (a & 0xF) << 4; seg = (a >> 4) & 7;
            t = q + 8 if seg == 0 else (q + 0x108 if seg == 1
                else (q + 0x108) << (seg - 1));
            sample = t if a & 0x80 else -t

    Exact integer arithmetic end to end, which is what lets the G.711
    oracle restate the expansion in SQL."""
    import numpy as np

    ulaw = np.empty(256, dtype=np.int16)
    for code in range(256):
        u = ~code & 0xFF
        t = ((u & 0xF) * 8 + 132) << ((u >> 4) & 7)
        ulaw[code] = 132 - t if u & 0x80 else t - 132
    alaw = np.empty(256, dtype=np.int16)
    for code in range(256):
        a = code ^ 0x55
        q = (a & 0xF) << 4
        seg = (a >> 4) & 7
        if seg == 0:
            t = q + 8
        elif seg == 1:
            t = q + 0x108
        else:
            t = (q + 0x108) << (seg - 1)
        alaw[code] = t if a & 0x80 else -t
    return ulaw, alaw


_ULAW_TO_PCM, _ALAW_TO_PCM = _g711_tables()


def encode_wav_g711(codes, sample_rate: int, channels: int, law: str = "ulaw") -> bytes:
    """Wrap raw 8-bit G.711 code bytes (flat, frame-major interleaved) in
    a spec-valid RIFF/WAVE container — format tag 7 (u-law) or 6 (A-law),
    8 bits per sample, the telephony capture format. Write-time fixture
    synthesizer; any standard WAV reader accepts the layout."""
    import numpy as np

    c = np.asarray(codes, dtype=np.uint8)
    tag = {"ulaw": 7, "alaw": 6}.get(law)
    if tag is None:
        raise ValueError("law must be 'ulaw' or 'alaw'")
    data = c.tobytes()
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, tag, channels, sample_rate,
        sample_rate * channels, channels, 8,
    )
    body = b"WAVE" + fmt + b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        data += b"\x00"  # RIFF word alignment pad (not part of the chunk)
        body = b"WAVE" + fmt + b"data" + struct.pack("<I", len(data) - 1) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("channels", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("sum_sq", LongType(), True),
        StructField("sum_abs", LongType(), True),
        StructField("peak", IntegerType(), True),
        StructField("rms", DoubleType(), True),
    ]
)


def extract_audio_stats(df: DataFrame, decoder=None) -> DataFrame:
    """Distributed waveform statistics over PCM WAV payloads via the REAL
    sample decode (``decode_wav_pcm`` or any ``decoder=``): per-payload
    energy (sum of squares), total magnitude, peak, and RMS. Undecodable
    or sample-less payloads yield NULL stats. Stats accumulate in int64
    (a peak of -32768 would overflow abs() in int16)."""
    decoder = decoder or decode_wav_pcm

    def per_item(b):
        dec = decoder(b)
        if dec is None or _empty(dec[2]):
            return None
        ch, rate, s = dec
        v = s.astype(np.int64)
        sum_sq = int((v * v).sum())
        n = int(v.size)
        return [
            (ch, rate, n, sum_sq, int(np.abs(v).sum()), int(np.abs(v).max()), (sum_sq / n) ** 0.5)
        ]

    return _map_payloads(df, AUDIO_STATS_SCHEMA, per_item)


AUDIO_CHANNEL_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("channels", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_frames", LongType(), True),
        StructField("sum_l", LongType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_mix", LongType(), True),
        StructField("sum_abs_mix", LongType(), True),
        StructField("peak_mix", IntegerType(), True),
        StructField("mean_mix", DoubleType(), True),
    ]
)


def extract_audio_channel_stats(df: DataFrame, decoder=None) -> DataFrame:
    """Distributed PER-CHANNEL waveform statistics + deterministic mono
    DOWNMIX over WAV payloads — the channel-normalization pass an audio
    training corpus runs before featurization (models consume mono; raw
    crawl audio is mostly stereo): the interleaved decode
    (``decode_wav_pcm`` or anything behind the ``decoder=`` seam)
    de-interleaves into L/R planes and downmixes as
    floor((L+R)/2) — FLOOR, not truncate-toward-zero, so negative odd
    sums divide identically to the SQL restatement (the
    ``box_downsample_pcm`` convention). Per payload: channel count,
    rate, frames per channel, per-channel sums, and sum/|sum|/peak/mean
    over the mixed signal. Mono passes through (mix = the signal);
    payloads outside the 1-2 channel profile or undecodable yield NULL
    stats."""
    decoder = decoder or decode_wav_pcm

    def per_item(b):
        dec = decoder(b)
        if (
            dec is None
            or _empty(dec[2])
            or dec[0] not in (1, 2)
            # an interleaved buffer not divisible by the channel
            # count (possible only via the decoder= seam —
            # decode_wav_pcm enforces block alignment) cannot be
            # de-interleaved: void the item, don't crash the task
            or dec[2].size % dec[0] != 0
        ):
            return None
        ch, rate, s = dec
        v = s.astype(np.int64)
        if ch == 2:
            left, right = v[0::2], v[1::2]
            mix = (left + right) // 2  # numpy // floors, as SQL FLOOR
            sum_r = int(right.sum())
        else:
            left = mix = v
            sum_r = None
        n = int(mix.size)
        return [
            (
                ch, rate, n,
                int(left.sum()), sum_r,
                int(mix.sum()), int(np.abs(mix).sum()),
                int(np.abs(mix).max()), mix.sum() / n,
            )
        ]

    return _map_payloads(df, AUDIO_CHANNEL_STATS_SCHEMA, per_item)


def box_downsample_pcm(samples, channels: int, factor: int):
    """Average-pool an interleaved int16 PCM buffer by ``factor`` FRAMES
    per channel with floor-integer means (the audio twin of
    :func:`box_downsample_rgb` — the decimation step of sample-rate
    normalization); a ragged final window averages its actual (smaller)
    frame count. Floor (not truncate-toward-zero) is pinned so negative
    sums divide identically to SQL ``FLOOR(sum/count)``. Pure numpy
    (``add.reduceat`` over the frame axis) — no per-sample Python."""
    import numpy as np

    if not isinstance(factor, int) or factor < 1:
        raise ValueError("factor must be an int >= 1")
    s = np.asarray(samples, dtype=np.int64)
    frames = s.size // channels
    m = s[: frames * channels].reshape(frames, channels)
    idx = np.arange(0, frames, factor)
    sums = np.add.reduceat(m, idx, axis=0)
    cnt = np.diff(np.append(idx, frames))[:, None]
    return (sums // cnt).astype(np.int16).reshape(-1)


def resample_wav_payloads(df: DataFrame, factor: int = 2) -> DataFrame:
    """REAL sample-rate downsample over PCM WAV payloads, distributed:
    decode (``decode_wav_pcm``) → frame-wise box-downsample by ``factor``
    (floor-integer window means, ragged tail handled) → re-encode at
    ``rate // factor``. Returns MEDIA_SCHEMA rows with the resampled
    payload; undecodable payloads pass through with payload NULL — the
    same shape and null discipline as :func:`resize_image_payloads`
    (a training pipeline normalizes heterogeneous sample rates before
    feature extraction). ``factor`` is validated driver-side so a bad
    parameter fails fast, not as an executor traceback mid-job."""
    if not isinstance(factor, int) or factor < 1:
        raise ValueError("factor must be an int >= 1")

    def rewrite(b):
        dec = decode_wav_pcm(b)
        if dec is None or _empty(dec[2]):
            return None
        ch, rate, s = dec
        return encode_wav_pcm(box_downsample_pcm(s, ch, factor), max(1, rate // factor), ch)

    return _rewrite_payloads(df, rewrite)


def box_downsample_rgb(px, factor: int):
    """Average-pool an (h, w, 3) uint8 array by ``factor`` in both axes
    with floor-integer means; ragged right/bottom edges average their
    actual (smaller) block. Pure numpy (``add.reduceat`` over both axes)
    — no per-pixel Python."""
    import numpy as np

    if not isinstance(factor, int) or factor < 1:
        raise ValueError("factor must be an int >= 1")
    h, w, _ = px.shape
    ys = np.arange(0, h, factor)
    xs = np.arange(0, w, factor)
    s = np.add.reduceat(np.add.reduceat(px.astype(np.int64), ys, axis=0), xs, axis=1)
    bh = np.diff(np.append(ys, h))
    bw = np.diff(np.append(xs, w))
    counts = (bh[:, None] * bw[None, :])[:, :, None]
    return (s // counts).astype(np.uint8)


def resize_image_payloads(df: DataFrame, factor: int = 2) -> DataFrame:
    """REAL pixel resize over PNG payloads, distributed: decode
    (``decode_png_rgb``) → box-downsample by ``factor`` (floor-integer
    block means, ragged edges handled) → re-encode (``encode_png_rgb``).
    Returns MEDIA_SCHEMA rows with the resized payload; undecodable
    payloads pass through with payload NULL (the same null discipline
    as the stat extractors). ``factor`` is validated driver-side so a
    bad parameter fails fast, not as an executor traceback mid-job."""
    if not isinstance(factor, int) or factor < 1:
        raise ValueError("factor must be an int >= 1")

    def rewrite(b):
        px = decode_png_rgb(b)
        return None if _empty(px) else encode_png_rgb(box_downsample_rgb(px, factor))

    return _rewrite_payloads(df, rewrite)


# ---------------------------------------------------------------------------
# JPEG baseline codec: REAL entropy-level decode, pure stdlib + numpy — the
# section that closes the "entropy-coder seam" for still images. Baseline
# sequential JPEG (ITU-T T.81) over 8-bit single-component (grayscale) AND
# three-component 4:4:4 YCbCr (color) profiles: real marker stream
# (SOI/APP0/DQT/SOF0/DHT/SOS/EOI), Annex-K huffman + quantization tables
# (luma K.1/K.3/K.5 and chroma K.2/K.4/K.6), canonical-code huffman DECODE
# of the DPCM DC / run-length AC coefficient stream (with 0xFF00
# byte-stuffing, per-component predictors through the interleaved MCU
# scan), zigzag de-serialization, dequantization, a float64 orthonormal
# 2-D IDCT, and the CCIR 601 inverse color transform (JFIF v1.02 §7).
#
# Supported color samplings: 4:4:4 (one block per component per MCU),
# MCU-interleaved 4:2:0 (four Y + one Cb + one Cr per 16x16-pixel MCU,
# chroma upsampled by pinned 2x2 replication — test_jpeg_420_* /
# jpeg_420_pixel_stats), and 4:2:2 (two Y + one Cb + one Cr per
# 16x8-pixel MCU, column-replication upsample — test_jpeg_422_* /
# jpeg_422_pixel_stats). The gate generalizes to EVERY Y-subsampled
# layout with h, v in 1..4 and h*v <= 8 — 4:4:0 and 4:1:1 are oracled
# (jpeg_sampling_pixel_stats), the full matrix incl. 1x4/4x2/2x4/3x1/1x3
# is dense-pinned (test_jpeg_sampling_matrix). PROGRESSIVE (SOF2)
# streams ARE in profile
# (r10): coefficients accumulate across the scan script (spectral
# selection + successive approximation, T.81 Annex G) and the IDCT runs
# once at EOI — test_jpeg_progressive_* pin equality with the baseline
# decode on identical planes; jpeg_progressive_pixel_stats carries the
# SQL oracle. Profile honesty: subsampled-CHROMA layouts,
# arithmetic coding, and hierarchical JPEG remain out of profile and
# decode to None (never a crash). DRI/restart streams ARE in profile
# (r10: predictor resets at RSTn boundaries, modulo-8 sequence check —
# what real encoders routinely emit for error resilience). Motion codecs (H.26x) stay behind
# the documented seam; MJPEG video is this codec applied per frame
# (parse_mp4_samples).
#
# Exactness contract used by the oracled queries: for an image whose 8x8
# blocks are each CONSTANT with an even level, the quantized DCT is a lone
# DC coefficient ((value-128)/2 with the Annex-K q00=16) and the decode
# reproduces every pixel bit-exactly — so a SQL oracle can restate the
# decoded pixels from the block-value formula with no float replication.
# The chroma twin: levels 128+17t against the K.2 q00=17 quantize to the
# lone integer DC 8t and round-trip exactly, so the color oracle only has
# to mirror the (floor(x+0.5)-pinned) color matrix on top of the plane
# formulas. Dense-coefficient blocks are covered by unit tests against an
# independent four-loop math.cos IDCT reference (tests/test_multimodal.py).
# ---------------------------------------------------------------------------

#: Annex K Table K.1 luminance quantization (natural row-major order).
STD_LUMA_QUANT = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)

#: Annex K Table K.2 chrominance quantization (natural row-major order).
STD_CHROMA_QUANT = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
)

#: Zigzag scan: _ZIGZAG[k] = natural index of the k-th zigzag coefficient.
_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

#: Annex K Table K.3 / K.5: luminance DC and AC huffman specs, as
#: (bits[1..16], huffval) — the canonical-code inputs DHT carries verbatim.
_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_DC_VALS = tuple(range(12))
_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)


#: Annex K Tables K.4 / K.6: chrominance DC and AC huffman specs.
_DC_CHROMA_BITS = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
_DC_CHROMA_VALS = tuple(range(12))
_AC_CHROMA_BITS = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
_AC_CHROMA_VALS = (
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)


def _huff_codes(bits, vals):
    """Canonical huffman assignment (T.81 C.2): value -> (code, length)."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_table(bits, vals):
    """Canonical huffman decode map: (length, code) -> value."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


_DCT_MAT = None


def _dct_matrix():
    """Orthonormal 8-point DCT-II matrix: C[u,x] = 0.5*c(u)*cos((2x+1)u*pi/16).
    2-D forward DCT of a block s is C @ s @ C.T; inverse is C.T @ S @ C."""
    global _DCT_MAT
    if _DCT_MAT is None:
        import math

        import numpy as np

        m = np.empty((8, 8))
        for u in range(8):
            cu = 1.0 / math.sqrt(2.0) if u == 0 else 1.0
            for x in range(8):
                m[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
        _DCT_MAT = m
    return _DCT_MAT


class _BitWriter:
    """MSB-first bit accumulator with JPEG byte stuffing (0xFF -> 0xFF00)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-fill per T.81 F.1.2.3
        return bytes(self.out)

    def restart(self, n: int) -> None:
        """Emit an RSTn marker (T.81 E.1.4): 1-fill to the byte boundary
        (through put(), so a 0xFF pad byte still gets stuffed), then the
        marker bytes RAW — markers are not entropy data and never
        stuffed."""
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)
        self.out += bytes((0xFF, 0xD0 + (n & 7)))


class _BitReader:
    """MSB-first bit reader over entropy-coded data with byte-unstuffing;
    raises ValueError on markers inside the scan or exhausted input."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data
        if self.pos >= len(b):
            raise ValueError("entropy stream exhausted")
        byte = b[self.pos]
        self.pos += 1
        if byte == 0xFF:
            if self.pos >= len(b):
                raise ValueError("truncated stuffing")
            nxt = b[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                raise ValueError("marker inside scan")
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        v = (self.acc >> self.nbits) & 1
        self.acc &= (1 << self.nbits) - 1
        return v

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart_marker(self) -> int:
        """Byte-align (discard remaining pad bits of the current byte —
        any stuffed 0x00 after a 0xFF pad byte was already consumed by
        _fill) and consume an RSTn marker, returning n in 0..7. Raises
        ValueError if the next bytes are not a restart marker."""
        self.nbits = 0
        self.acc = 0
        b = self.data
        if self.pos + 2 > len(b) or b[self.pos] != 0xFF:
            raise ValueError("expected restart marker")
        m = b[self.pos + 1]
        if not 0xD0 <= m <= 0xD7:
            raise ValueError("expected restart marker")
        self.pos += 2
        return m - 0xD0


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t received bits to the signed amplitude."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _bit_size(v: int) -> int:
    """Amplitude category (SSSS): number of bits to code |v|."""
    return 0 if v == 0 else abs(v).bit_length()


def _put_block(w: "_BitWriter", blk, pred: int, dc_codes, ac_codes) -> int:
    """Huffman-encode ONE quantized coefficient block (length-64 ints in
    NATURAL order) against the given code tables: DPCM DC vs ``pred``,
    run-length AC with ZRL/EOB. Returns the new DC predictor — the unit
    both the single-component scan and the interleaved 3-component MCU
    scan are built from (each component carries its own predictor)."""
    zz = [int(blk[_ZIGZAG[k]]) for k in range(64)]
    diff = zz[0] - pred
    t = _bit_size(diff)
    code, ln = dc_codes[t]
    w.put(code, ln)
    if t:
        w.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = ac_codes[0xF0]  # ZRL
            w.put(code, ln)
            run -= 16
        t = _bit_size(v)
        code, ln = ac_codes[(run << 4) | t]
        w.put(code, ln)
        w.put(v if v >= 0 else v + (1 << t) - 1, t)
        run = 0
    if run:
        code, ln = ac_codes[0x00]  # EOB
        w.put(code, ln)
    return zz[0]


def _encode_coeff_blocks(blocks, restart_interval: int = 0) -> bytes:
    """Huffman-encode quantized coefficient blocks (each a length-64 int
    sequence in NATURAL order) into the entropy-coded segment: DPCM DC,
    run-length AC with ZRL/EOB, Annex-K tables, byte stuffing, 1-padded
    flush. With ``restart_interval`` > 0, an RSTn marker (n cycling 0..7)
    is emitted every that-many blocks (= MCUs for a single-component
    scan) and the DC predictor resets at each — T.81 E.1.4. Exposed for
    coefficient-level round-trip tests."""
    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huff_codes(_AC_BITS, _AC_VALS)
    w = _BitWriter()
    pred = 0
    for m, blk in enumerate(blocks):
        if restart_interval and m and m % restart_interval == 0:
            w.restart((m // restart_interval - 1) % 8)
            pred = 0
        pred = _put_block(w, blk, pred, dc_codes, ac_codes)
    return w.flush()


def _decode_coeff_blocks(data: bytes, pos: int, n_blocks: int):
    """Huffman-decode ``n_blocks`` quantized coefficient blocks from the
    entropy-coded segment at ``pos``. Returns a list of length-64 int lists
    in NATURAL order. Inverse of _encode_coeff_blocks."""
    dc_tab = _huff_decode_table(_DC_BITS, _DC_VALS)
    ac_tab = _huff_decode_table(_AC_BITS, _AC_VALS)
    r = _BitReader(data, pos)

    def read_symbol(tab) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | r.bit()
            if (ln, code) in tab:
                return tab[(ln, code)]
        raise ValueError("invalid huffman code")

    blocks = []
    pred = 0
    for _ in range(n_blocks):
        zz = [0] * 64
        t = read_symbol(dc_tab)
        diff = _extend(r.bits(t), t) if t else 0
        pred += diff
        zz[0] = pred
        k = 1
        while k < 64:
            sym = read_symbol(ac_tab)
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                k += 16
                continue
            run, t = sym >> 4, sym & 0x0F
            k += run
            if k > 63 or t == 0:
                raise ValueError("corrupt AC run")
            zz[k] = _extend(r.bits(t), t)
            k += 1
        natural = [0] * 64
        for k in range(64):
            natural[_ZIGZAG[k]] = zz[k]
        blocks.append(natural)
    return blocks


def _quantize_plane(px, quant):
    """Forward half of the per-component pipeline shared by the grayscale
    and YCbCr encoders: edge-replication pad to 8x8 blocks, float64 DCT,
    round-to-nearest-even quantization against ``quant``. Returns the
    quantized coefficient blocks in raster order (length-64 natural-order
    arrays)."""
    import numpy as np

    h, w = px.shape
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    padded = np.pad(px, ((0, ph - h), (0, pw - w)), mode="edge").astype(np.float64) - 128.0
    q = np.asarray(quant, dtype=np.float64).reshape(8, 8)
    mat = _dct_matrix()
    blocks = []
    for by in range(ph // 8):
        for bx in range(pw // 8):
            blk = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            s = mat @ blk @ mat.T
            blocks.append(np.rint(s / q).astype(np.int64).reshape(-1))
    return blocks


def encode_jpeg_gray(pixels, quant=STD_LUMA_QUANT, restart_interval: int = 0) -> bytes:
    """Encode an (h, w) uint8 array as a spec-valid BASELINE grayscale JPEG
    (SOF0, one component, Annex-K huffman tables, ``quant`` as DQT table 0).
    Edge-replication pads to 8x8 blocks; float64 forward DCT; round-to-
    nearest-even quantization. ``restart_interval`` > 0 emits a DRI
    segment and RSTn markers every that-many MCUs with DC-predictor
    resets (T.81 E.1.4) — what real encoders routinely produce for error
    resilience. Write-time fixture synthesizer, same
    discipline as ``encode_png_rgb`` — any standard JPEG decoder reads the
    output."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape
    blocks = _quantize_plane(px, quant)
    scan = _encode_coeff_blocks(blocks, restart_interval)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(payload) + 2) + payload

    qz = bytes(int(np.asarray(quant).reshape(-1)[_ZIGZAG[k]]) for k in range(64))
    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xDB, b"\x00" + qz)
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    sof = seg(0xC0, b"\x08" + struct.pack(">HH", h, w) + b"\x01" + b"\x01\x11\x00")
    dht = seg(
        0xC4,
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS),
    )
    sos = seg(0xDA, b"\x01" + b"\x01\x00" + b"\x00\x3f\x00")
    return b"\xff\xd8" + app0 + dqt + dri + sof + dht + sos + scan + b"\xff\xd9"


def encode_jpeg_ycbcr(
    y,
    cb,
    cr,
    quant_luma=STD_LUMA_QUANT,
    quant_chroma=STD_CHROMA_QUANT,
    restart_interval: int = 0,
) -> bytes:
    """Encode three (h, w) uint8 YCbCr planes as a spec-valid BASELINE
    COLOR JPEG at 4:4:4 (no chroma subsampling: every component sampled
    1x1, so each MCU is one 8x8 block per component, interleaved Y-Cb-Cr
    per T.81 A.2.3). Y quantizes against Annex-K table K.1 / huffman
    K.3+K.5 (DQT 0, DHT class 0/1 id 0); Cb and Cr against K.2 / K.4+K.6
    (DQT 1, DHT id 1). Each component carries its own DC predictor
    through the interleaved scan. Taking YCbCr planes (not RGB) keeps the
    encoder the exact inverse of the transform-domain half of
    ``decode_jpeg_rgb`` — fixture formulas pick the planes, and the
    decoder's color matrix is oracled separately. Any standard JPEG
    decoder reads the output."""
    import numpy as np

    planes = [np.asarray(p, dtype=np.uint8) for p in (y, cb, cr)]
    h, w = planes[0].shape
    if any(p.shape != (h, w) for p in planes):
        raise ValueError("YCbCr planes must share one shape at 4:4:4")
    comp_blocks = [
        _quantize_plane(planes[0], quant_luma),
        _quantize_plane(planes[1], quant_chroma),
        _quantize_plane(planes[2], quant_chroma),
    ]
    dc_luma = _huff_codes(_DC_BITS, _DC_VALS)
    ac_luma = _huff_codes(_AC_BITS, _AC_VALS)
    dc_chroma = _huff_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_chroma = _huff_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)
    codes = [(dc_luma, ac_luma), (dc_chroma, ac_chroma), (dc_chroma, ac_chroma)]
    bw = _BitWriter()
    preds = [0, 0, 0]
    for m in range(len(comp_blocks[0])):  # MCU raster = block raster at 4:4:4
        if restart_interval and m and m % restart_interval == 0:
            bw.restart((m // restart_interval - 1) % 8)
            preds = [0, 0, 0]
        for c in range(3):
            preds[c] = _put_block(bw, comp_blocks[c][m], preds[c], *codes[c])
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(payload) + 2) + payload

    def zz(quant) -> bytes:
        flat = np.asarray(quant).reshape(-1)
        return bytes(int(flat[_ZIGZAG[k]]) for k in range(64))

    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xDB, b"\x00" + zz(quant_luma) + b"\x01" + zz(quant_chroma))
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    sof = seg(
        0xC0,
        b"\x08" + struct.pack(">HH", h, w) + b"\x03"
        + b"\x01\x11\x00" + b"\x02\x11\x01" + b"\x03\x11\x01",
    )
    dht = seg(
        0xC4,
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)
        + b"\x01" + bytes(_DC_CHROMA_BITS) + bytes(_DC_CHROMA_VALS)
        + b"\x11" + bytes(_AC_CHROMA_BITS) + bytes(_AC_CHROMA_VALS),
    )
    sos = seg(0xDA, b"\x03" + b"\x01\x00" + b"\x02\x11" + b"\x03\x11" + b"\x00\x3f\x00")
    return b"\xff\xd8" + app0 + dqt + dri + sof + dht + sos + scan + b"\xff\xd9"


def encode_jpeg_ycbcr_420(
    y,
    cb,
    cr,
    quant_luma=STD_LUMA_QUANT,
    quant_chroma=STD_CHROMA_QUANT,
    restart_interval: int = 0,
) -> bytes:
    """Encode a spec-valid BASELINE COLOR JPEG at 4:2:0 — the dominant
    real-world profile: Y sampled 2x2 (one block per 8x8 luma tile),
    chroma 1x1 (each Cb/Cr sample covers a 2x2 luma region), so each MCU
    covers 16x16 luma pixels and carries four Y blocks + one Cb + one Cr
    (T.81 A.2.3 raster order within the MCU). ``y`` is the full-res
    (h, w) plane; ``cb``/``cr`` are the ALREADY-SUBSAMPLED
    (ceil(h/2), ceil(w/2)) planes — fixture formulas pick them directly,
    so the decoder's replication upsample + color matrix stay the only
    arithmetic an oracle must restate. Delegates to the generic
    :func:`encode_jpeg_ycbcr_subsampled` at (2, 2) — byte-identical
    output, pinned by test_jpeg_specialized_encoders_delegate."""
    import numpy as np

    yp = np.asarray(y, dtype=np.uint8)
    h, w = yp.shape
    ch, cw = (h + 1) // 2, (w + 1) // 2
    if np.asarray(cb).shape != (ch, cw) or np.asarray(cr).shape != (ch, cw):
        raise ValueError(
            f"4:2:0 chroma planes must be (ceil(h/2), ceil(w/2)) = {(ch, cw)}"
        )
    return encode_jpeg_ycbcr_subsampled(
        y, cb, cr, (2, 2), quant_luma, quant_chroma, restart_interval
    )


def encode_jpeg_ycbcr_422(
    y,
    cb,
    cr,
    quant_luma=STD_LUMA_QUANT,
    quant_chroma=STD_CHROMA_QUANT,
    restart_interval: int = 0,
) -> bytes:
    """Encode a spec-valid BASELINE COLOR JPEG at 4:2:2 — the broadcast/
    video-capture profile: Y sampled 2x1, chroma 1x1 (each Cb/Cr sample
    covers a 2x1 luma region — HORIZONTAL-only subsampling), so each MCU
    covers 16x8 luma pixels and carries two Y blocks + one Cb + one Cr.
    ``cb``/``cr`` are the ALREADY-SUBSAMPLED (h, ceil(w/2)) planes.
    Delegates to the generic :func:`encode_jpeg_ycbcr_subsampled` at
    (2, 1) — byte-identical output, pinned by
    test_jpeg_specialized_encoders_delegate."""
    import numpy as np

    yp = np.asarray(y, dtype=np.uint8)
    h, w = yp.shape
    cw = (w + 1) // 2
    if np.asarray(cb).shape != (h, cw) or np.asarray(cr).shape != (h, cw):
        raise ValueError(f"4:2:2 chroma planes must be (h, ceil(w/2)) = {(h, cw)}")
    return encode_jpeg_ycbcr_subsampled(
        y, cb, cr, (2, 1), quant_luma, quant_chroma, restart_interval
    )


def encode_jpeg_ycbcr_subsampled(
    y,
    cb,
    cr,
    y_sampling: tuple[int, int] = (2, 2),
    quant_luma=STD_LUMA_QUANT,
    quant_chroma=STD_CHROMA_QUANT,
    restart_interval: int = 0,
) -> bytes:
    """Encode a spec-valid BASELINE COLOR JPEG at ANY Y-subsampled layout
    — Y sampled ``y_sampling`` = (h, v) with h, v in 1..4 and h*v <= 8
    (the baseline 10-blocks-per-MCU bound, T.81 B.2.3), chroma 1x1: each
    MCU covers 8h x 8v luma pixels and carries h*v Y blocks + one Cb +
    one Cr in A.2.3 raster order. Generalizes the fixed-layout
    :func:`encode_jpeg_ycbcr_420` / :func:`encode_jpeg_ycbcr_422` (which
    predate it and keep their oracled fixtures); (1, 2) is 4:4:0 and
    (4, 1) is 4:1:1. ``cb``/``cr`` are ALREADY-SUBSAMPLED
    (ceil(h/v_s), ceil(w/h_s)) planes — same transform-domain fixture
    contract. Any standard JPEG decoder reads the output."""
    import numpy as np

    sh, sv = y_sampling
    if not (1 <= sh <= 4 and 1 <= sv <= 4 and 2 <= sh * sv <= 8):
        raise ValueError("y_sampling must have h, v in 1..4 and 2 <= h*v <= 8")
    yp = np.asarray(y, dtype=np.uint8)
    cbp = np.asarray(cb, dtype=np.uint8)
    crp = np.asarray(cr, dtype=np.uint8)
    h, w = yp.shape
    ch, cw = (h + sv - 1) // sv, (w + sh - 1) // sh
    if cbp.shape != (ch, cw) or crp.shape != (ch, cw):
        raise ValueError(
            f"subsampled chroma planes must be (ceil(h/{sv}), ceil(w/{sh})) = {(ch, cw)}"
        )
    mcux, mcuy = (w + 8 * sh - 1) // (8 * sh), (h + 8 * sv - 1) // (8 * sv)
    ypad = np.pad(
        yp, ((0, mcuy * 8 * sv - h), (0, mcux * 8 * sh - w)), mode="edge"
    )
    cbpad = np.pad(cbp, ((0, mcuy * 8 - ch), (0, mcux * 8 - cw)), mode="edge")
    crpad = np.pad(crp, ((0, mcuy * 8 - ch), (0, mcux * 8 - cw)), mode="edge")
    yb = _quantize_plane(ypad, quant_luma)  # raster over an sh*mcux-wide grid
    cbb = _quantize_plane(cbpad, quant_chroma)
    crb = _quantize_plane(crpad, quant_chroma)
    dc_l, ac_l = _huff_codes(_DC_BITS, _DC_VALS), _huff_codes(_AC_BITS, _AC_VALS)
    dc_c = _huff_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _huff_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)
    bw = _BitWriter()
    py = pcb = pcr = 0
    ybx = sh * mcux  # Y block-grid width
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            bw.restart((m // restart_interval - 1) % 8)
            py = pcb = pcr = 0
        my, mx = divmod(m, mcux)
        for byy in range(sv):
            for bxx in range(sh):
                py = _put_block(
                    bw, yb[(my * sv + byy) * ybx + (mx * sh + bxx)], py, dc_l, ac_l
                )
        pcb = _put_block(bw, cbb[my * mcux + mx], pcb, dc_c, ac_c)
        pcr = _put_block(bw, crb[my * mcux + mx], pcr, dc_c, ac_c)
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(payload) + 2) + payload

    def zz(quant) -> bytes:
        flat = np.asarray(quant).reshape(-1)
        return bytes(int(flat[_ZIGZAG[k]]) for k in range(64))

    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(0xDB, b"\x00" + zz(quant_luma) + b"\x01" + zz(quant_chroma))
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    sof = seg(
        0xC0,
        b"\x08" + struct.pack(">HH", h, w) + b"\x03"
        + bytes((0x01, (sh << 4) | sv, 0x00)) + b"\x02\x11\x01" + b"\x03\x11\x01",
    )
    dht = seg(
        0xC4,
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)
        + b"\x01" + bytes(_DC_CHROMA_BITS) + bytes(_DC_CHROMA_VALS)
        + b"\x11" + bytes(_AC_CHROMA_BITS) + bytes(_AC_CHROMA_VALS),
    )
    sos = seg(0xDA, b"\x03" + b"\x01\x00" + b"\x02\x11" + b"\x03\x11" + b"\x00\x3f\x00")
    return b"\xff\xd8" + app0 + dqt + dri + sof + dht + sos + scan + b"\xff\xd9"


def encode_jpeg_progressive(
    y,
    cb=None,
    cr=None,
    quant_luma=STD_LUMA_QUANT,
    quant_chroma=STD_CHROMA_QUANT,
    sampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode a spec-valid PROGRESSIVE JPEG (SOF2, T.81 Annex G) —
    grayscale (``y`` only) or color at 4:4:4, 4:2:0, or 4:2:2 — with a
    libjpeg-like scan script exercising BOTH progressive mechanisms:
    spectral selection (interleaved DC scan, then AC bands 1-5 and 6-63
    per component, NON-interleaved over each component's true block grid
    — pad blocks of the MCU grid are never AC-coded, per T.81 A.2.2) and
    successive approximation (first scans at Al=1, then refinement scans
    at Ah=1/Al=0 restoring the low bit). Chroma planes follow the
    baseline encoders' contract: ALREADY-SUBSAMPLED for 4:2:0/4:2:2.
    Uses the Annex-K huffman tables, which lack the EOBn (n>=1) run
    symbols, so EOB runs are flushed per block (EOB0) — spec-valid, just
    less compact than a custom-table encoder. ``restart_interval`` > 0
    emits a DRI segment and RSTn markers every that-many units in EVERY
    scan (units = MCUs for the interleaved DC scan, blocks for the
    others), resetting DC predictors and forcing an EOB-run flush at each
    boundary — T.81 E.1.4 applied per Annex-G scan. Any standard JPEG decoder
    reads the output; the decode twin is the multi-scan path of
    ``_decode_jpeg_planes``."""
    import numpy as np

    yp = np.asarray(y, dtype=np.uint8)
    h, w = yp.shape
    gray = cb is None and cr is None
    if gray:
        samps = [(1, 1)]
        planes = [yp]
        quants = [quant_luma]
    else:
        if cb is None or cr is None:
            raise ValueError("color needs both cb and cr")
        cbp = np.asarray(cb, dtype=np.uint8)
        crp = np.asarray(cr, dtype=np.uint8)
        shapes = {
            "444": ((h, w), (1, 1)),
            "420": (((h + 1) // 2, (w + 1) // 2), (2, 2)),
            "422": ((h, (w + 1) // 2), (2, 1)),
        }
        if sampling not in shapes:
            raise ValueError(f"unsupported sampling {sampling!r}")
        cshape, ysamp = shapes[sampling]
        if cbp.shape != cshape or crp.shape != cshape:
            raise ValueError(f"{sampling} chroma planes must be {cshape}")
        samps = [ysamp, (1, 1), (1, 1)]
        planes = [yp, cbp, crp]
        quants = [quant_luma, quant_chroma, quant_chroma]
    ncomp = len(planes)
    hmax = max(sx for sx, _ in samps)
    vmax = max(sy for _, sy in samps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    comps = []
    for pl, q, (h_i, v_i) in zip(planes, quants, samps):
        gw, gh = mcux * 8 * h_i, mcuy * 8 * v_i
        pad = np.pad(
            pl, ((0, gh - pl.shape[0]), (0, gw - pl.shape[1])), mode="edge"
        )
        blocks = _quantize_plane(pad, q)
        cw = -(-(w * h_i) // hmax)
        chh = -(-(h * v_i) // vmax)
        comps.append(
            {
                "h": h_i,
                "v": v_i,
                "nbx": gw // 8,
                "tnbx": -(-cw // 8),
                "tnby": -(-chh // 8),
                "zz": [[int(b[_ZIGZAG[k]]) for k in range(64)] for b in blocks],
            }
        )
    dc_l = _huff_codes(_DC_BITS, _DC_VALS)
    ac_l = _huff_codes(_AC_BITS, _AC_VALS)
    dc_c = _huff_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
    ac_c = _huff_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)
    dc_codes = [dc_l] + [dc_c] * (ncomp - 1)
    ac_codes = [ac_l] + [ac_c] * (ncomp - 1)

    def put_val(bw, v, t):
        if t:
            bw.put(v if v >= 0 else v + (1 << t) - 1, t)

    def dc_units():
        """(unit number, comp index, padded block index) in the decoder's
        unit order: MCU-interleaved for multi-component, true-grid raster
        for gray — the unit number drives restart boundaries."""
        if ncomp > 1:
            for m in range(mcux * mcuy):
                my, mx = divmod(m, mcux)
                for ci, c in enumerate(comps):
                    for byy in range(c["v"]):
                        for bxx in range(c["h"]):
                            yield m, ci, (my * c["v"] + byy) * c["nbx"] + (
                                mx * c["h"] + bxx
                            )
        else:
            c = comps[0]
            for u, (by, bx) in enumerate(
                (by, bx) for by in range(c["tnby"]) for bx in range(c["tnbx"])
            ):
                yield u, 0, by * c["nbx"] + bx

    def comp_blocks(ci):
        """Padded block indexes of component ci's TRUE grid, raster order
        — the block sequence of a non-interleaved scan."""
        c = comps[ci]
        for by in range(c["tnby"]):
            for bx in range(c["tnbx"]):
                yield by * c["nbx"] + bx

    def maybe_restart(bw, unit_no, state_reset):
        """Emit RSTn at a restart boundary and run the scan's state reset."""
        if restart_interval and unit_no and unit_no % restart_interval == 0:
            bw.restart((unit_no // restart_interval - 1) % 8)
            state_reset()

    def dc_first_scan(al):
        bw = _BitWriter()
        preds = [0] * ncomp
        seen = -1
        for unit, ci, bi in dc_units():
            if unit != seen:
                seen = unit
                maybe_restart(
                    bw, unit, lambda: preds.__setitem__(slice(None), [0] * ncomp)
                )
            v = comps[ci]["zz"][bi][0] >> al  # point transform: floor shift
            diff = v - preds[ci]
            preds[ci] = v
            t = _bit_size(diff)
            code, ln = dc_codes[ci][t]
            bw.put(code, ln)
            put_val(bw, diff, t)
        return bw.flush()

    def dc_refine_scan(al):
        bw = _BitWriter()
        seen = -1
        for unit, ci, bi in dc_units():
            if unit != seen:
                seen = unit
                maybe_restart(bw, unit, lambda: None)
            bw.put((comps[ci]["zz"][bi][0] >> al) & 1, 1)
        return bw.flush()

    def ac_first_scan(ci, ss, se, al):
        bw = _BitWriter()
        codes = ac_codes[ci]
        eob_pending = 0

        def flush_eob():
            nonlocal eob_pending
            if eob_pending:
                code, ln = codes[0x00]
                bw.put(code, ln)  # EOB0: run of one block
                eob_pending = 0

        for unit, bi in enumerate(comp_blocks(ci)):
            if restart_interval and unit and unit % restart_interval == 0:
                flush_eob()  # a run never crosses a restart boundary
                bw.restart((unit // restart_interval - 1) % 8)
            blk = comps[ci]["zz"][bi]
            r = 0
            for k in range(ss, se + 1):
                v = blk[k]
                t = v >> al if v >= 0 else -((-v) >> al)  # trunc toward zero
                if t == 0:
                    r += 1
                    continue
                flush_eob()
                while r > 15:
                    code, ln = codes[0xF0]
                    bw.put(code, ln)
                    r -= 16
                tb = _bit_size(t)
                code, ln = codes[(r << 4) | tb]
                bw.put(code, ln)
                put_val(bw, t, tb)
                r = 0
            if r:
                flush_eob()  # Annex-K tables: no EOBn>0 symbols, flush each
                eob_pending = 1
        flush_eob()
        return bw.flush()

    def ac_refine_scan(ci, ss, se, al):
        bw = _BitWriter()
        codes = ac_codes[ci]
        eob_pending = 0
        be: list[int] = []

        def flush_eob():
            nonlocal eob_pending
            if eob_pending:
                code, ln = codes[0x00]
                bw.put(code, ln)
                for bit in be:
                    bw.put(bit, 1)
                be.clear()
                eob_pending = 0

        for unit, bi in enumerate(comp_blocks(ci)):
            if restart_interval and unit and unit % restart_interval == 0:
                flush_eob()  # a run never crosses a restart boundary
                bw.restart((unit // restart_interval - 1) % 8)
            blk = comps[ci]["zz"][bi]
            # per band position: 'z' zero-history, 'c' correction bit of a
            # history-nonzero coefficient, 'n' newly-significant (+ sign).
            # Emission is strictly POSITIONAL, mirroring the decoder: a
            # ZRL covers exactly 16 'z' positions and the 'c' bits passed
            # on the way ride along in k order.
            kinds = []
            for k in range(ss, se + 1):
                v = blk[k]
                t = abs(v) >> al
                if t == 0:
                    kinds.append(("z", 0))
                elif t > 1:
                    kinds.append(("c", t & 1))
                else:
                    kinds.append(("n", 1 if v > 0 else 0))
            pos = 0
            for j, (kd, sign) in enumerate(kinds):
                if kd != "n":
                    continue
                zeros = sum(1 for x in range(pos, j) if kinds[x][0] == "z")
                while zeros > 15:
                    flush_eob()
                    code, ln = codes[0xF0]
                    bw.put(code, ln)
                    zc = 0
                    while zc < 16:
                        xkd, xbit = kinds[pos]
                        if xkd == "c":
                            bw.put(xbit, 1)
                        else:
                            zc += 1
                        pos += 1
                    zeros -= 16
                flush_eob()
                code, ln = codes[(zeros << 4) | 1]
                bw.put(code, ln)
                bw.put(sign, 1)
                for x in range(pos, j):
                    if kinds[x][0] == "c":
                        bw.put(kinds[x][1], 1)
                pos = j + 1
            if pos < len(kinds):  # tail joins an EOB run (per-block EOB0)
                flush_eob()  # a previous block's pending EOB goes first
                eob_pending = 1
                be.extend(bit for kd, bit in kinds[pos:] if kd == "c")
        flush_eob()
        return bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(payload) + 2) + payload

    def zzq(quant) -> bytes:
        flat = np.asarray(quant).reshape(-1)
        return bytes(int(flat[_ZIGZAG[k]]) for k in range(64))

    def sos(comp_specs: list[tuple[int, int, int]], ss, se, ah, al) -> bytes:
        body = bytes((len(comp_specs),))
        for cid, td, ta in comp_specs:
            body += bytes((cid, (td << 4) | ta))
        body += bytes((ss, se, (ah << 4) | al))
        return seg(0xDA, body)

    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if gray:
        dqt = seg(0xDB, b"\x00" + zzq(quant_luma))
        sof = seg(0xC2, b"\x08" + struct.pack(">HH", h, w) + b"\x01" + b"\x01\x11\x00")
        dht = seg(
            0xC4,
            b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
            + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS),
        )
        all_dc = [(1, 0, 0)]
        per_comp = [(1, 0, 0)]
    else:
        ysamp_byte = (samps[0][0] << 4) | samps[0][1]
        dqt = seg(0xDB, b"\x00" + zzq(quant_luma) + b"\x01" + zzq(quant_chroma))
        sof = seg(
            0xC2,
            b"\x08" + struct.pack(">HH", h, w) + b"\x03"
            + bytes((0x01, ysamp_byte, 0x00)) + b"\x02\x11\x01" + b"\x03\x11\x01",
        )
        dht = seg(
            0xC4,
            b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
            + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)
            + b"\x01" + bytes(_DC_CHROMA_BITS) + bytes(_DC_CHROMA_VALS)
            + b"\x11" + bytes(_AC_CHROMA_BITS) + bytes(_AC_CHROMA_VALS),
        )
        all_dc = [(1, 0, 0), (2, 1, 1), (3, 1, 1)]
        per_comp = [(1, 0, 0), (2, 1, 1), (3, 1, 1)]
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    )
    out = b"\xff\xd8" + app0 + dqt + dri + sof + dht
    # scan script: DC first (Al=1), DC refine, then per component AC bands
    # 1-5 and 6-63 first (Al=1) followed by their refinements (Al=0)
    out += sos(all_dc, 0, 0, 0, 1) + dc_first_scan(1)
    out += sos(all_dc, 0, 0, 1, 0) + dc_refine_scan(0)
    for c in range(ncomp):
        spec = [per_comp[c]]
        out += sos(spec, 1, 5, 0, 1) + ac_first_scan(c, 1, 5, 1)
        out += sos(spec, 6, 63, 0, 1) + ac_first_scan(c, 6, 63, 1)
    for c in range(ncomp):
        spec = [per_comp[c]]
        out += sos(spec, 1, 5, 1, 0) + ac_refine_scan(c, 1, 5, 0)
        out += sos(spec, 6, 63, 1, 0) + ac_refine_scan(c, 6, 63, 0)
    return out + b"\xff\xd9"


def _progressive_scan(
    b, pos, payload, by_id, dc_spec, ac_spec, restart_interval, mcux, mcuy
):
    """Decode ONE progressive scan (T.81 Annex G) into the per-component
    coefficient arrays: DC first/refinement (interleaved or single), AC
    first/refinement (single-component only, with EOB runs). Returns the
    byte position of the next marker after the scan's entropy data."""
    ns = payload[0]
    scomps = []
    for j in range(ns):
        cid = payload[1 + 2 * j]
        if cid not in by_id:
            raise ValueError("scan references unknown component")
        scomps.append(
            (by_id[cid], payload[2 + 2 * j] >> 4, payload[2 + 2 * j] & 0x0F)
        )
    ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
    ah, al = payload[3 + 2 * ns] >> 4, payload[3 + 2 * ns] & 0x0F
    if ss > se or se > 63:
        raise ValueError("bad spectral band")
    r = _BitReader(b, pos)

    def read_symbol(tab) -> int:
        code = 0
        for ln2 in range(1, 17):
            code = (code << 1) | r.bit()
            if (ln2, code) in tab:
                return tab[(ln2, code)]
        raise ValueError("invalid huffman code")

    # unit list: interleaved MCUs when Ns > 1, else the single component's
    # TRUE block grid (non-interleaved scans never code the MCU pad
    # blocks — T.81 A.2.2); each unit is [(comp index in scomps, block
    # row index into the coef array), ...]
    units = []
    if ns > 1:
        if ss != 0:
            raise ValueError("interleaved AC scan")
        for m in range(mcux * mcuy):
            my, mx = divmod(m, mcux)
            blocks = []
            for ci, (c, _, _) in enumerate(scomps):
                h_i, v_i, nbx = c["h"], c["v"], c["nbx"]
                for byy in range(v_i):
                    for bxx in range(h_i):
                        blocks.append(
                            (ci, (my * v_i + byy) * nbx + (mx * h_i + bxx))
                        )
            units.append(blocks)
    else:
        c = scomps[0][0]
        for by in range(c["tnby"]):
            for bx in range(c["tnbx"]):
                units.append([(0, by * c["nbx"] + bx)])

    if ss == 0:
        if se != 0:
            raise ValueError("DC scan must have Se=0")
        dctabs = []
        for _, td, _ in scomps:
            if ah == 0:
                if td not in dc_spec:
                    raise ValueError("missing DC table")
                dctabs.append(_huff_decode_table(*dc_spec[td]))
            else:
                dctabs.append(None)  # refinement reads raw bits only
    else:
        if ns != 1:
            raise ValueError("AC scan must be single-component")
        ta = scomps[0][2]
        if ta not in ac_spec:
            raise ValueError("missing AC table")
        actab = _huff_decode_table(*ac_spec[ta])
    p1, m1 = 1 << al, -1 << al
    preds = [0] * ns
    eobrun = 0
    for u, blocks in enumerate(units):
        if restart_interval and u and u % restart_interval == 0:
            if r.restart_marker() != (u // restart_interval - 1) % 8:
                raise ValueError("restart marker out of sequence")
            preds = [0] * ns
            eobrun = 0
        if ss == 0:
            for ci, bi in blocks:
                coef = scomps[ci][0]["coef"]
                if ah == 0:  # DC first: DPCM in the point-transformed domain
                    t = read_symbol(dctabs[ci])
                    preds[ci] += _extend(r.bits(t), t) if t else 0
                    coef[bi, 0] = preds[ci] << al
                else:  # DC refinement: one raw bit per block
                    if r.bit():
                        coef[bi, 0] |= p1
            continue
        # AC scans: one block per unit, zigzag positions ss..se
        (c, _, _ta) = scomps[0]
        coef = c["coef"]
        bi = blocks[0][1]
        nat = _ZIGZAG  # zigzag index -> natural index
        if ah == 0:  # AC first scan (G.1.2.2): EOB runs + value << Al
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                sym = read_symbol(actab)
                run, t = sym >> 4, sym & 0x0F
                if t == 0:
                    if run == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << run) - 1
                    if run:
                        eobrun += r.bits(run)
                    break
                k += run
                if k > se:
                    raise ValueError("AC run past band end")
                coef[bi, nat[k]] = _extend(r.bits(t), t) << al
                k += 1
            continue
        # AC refinement scan (G.1.2.3): correction bits for history-nonzero
        # coefficients, plus newly-significant +-1<<Al insertions
        k = ss
        if eobrun == 0:
            while k <= se:
                sym = read_symbol(actab)
                run, t = sym >> 4, sym & 0x0F
                if t == 0:
                    if run != 15:
                        # INCLUDES the current block: its remaining band
                        # positions still carry correction bits below
                        eobrun = 1 << run
                        if run:
                            eobrun += r.bits(run)
                        break
                    newval = 0  # ZRL: skip 16 zero-history positions
                elif t == 1:
                    newval = p1 if r.bit() else m1
                else:
                    raise ValueError("refinement magnitude must be 1")
                while k <= se:
                    idx = nat[k]
                    v = int(coef[bi, idx])
                    if v != 0:
                        if r.bit() and (v & p1) == 0:
                            coef[bi, idx] = v + (p1 if v >= 0 else m1)
                    else:
                        if run == 0:
                            if newval:
                                coef[bi, idx] = newval
                            k += 1
                            break
                        run -= 1
                    k += 1
        if eobrun > 0:
            # inside the EOB run: correction bits continue for every
            # history-nonzero coefficient through the band end
            while k <= se:
                idx = nat[k]
                v = int(coef[bi, idx])
                if v != 0:
                    if r.bit() and (v & p1) == 0:
                        coef[bi, idx] = v + (p1 if v >= 0 else m1)
                k += 1
            eobrun -= 1
    # advance to the next marker: drop pad bits, skip any stuffed 0x00
    p = r.pos
    n = len(b)
    while p + 1 < n and not (b[p] == 0xFF and b[p + 1] != 0x00):
        p += 1
    if p + 1 >= n:
        raise ValueError("no marker after scan")
    return p


def _decode_jpeg_progressive(
    b, i, quant, dc_spec, ac_spec, sof_comps, h, w, restart_interval
):
    """PROGRESSIVE (SOF2) decode path: accumulate quantized coefficients
    over the scan sequence (spectral selection + successive approximation,
    T.81 Annex G), then dequantize + IDCT every component once at EOI.
    Entered from ``_decode_jpeg_planes`` at the first SOS; returns the
    same ``(planes, samplings, h, w)`` contract. Tables and DRI may be
    redefined between scans (real encoders do); restart markers inside a
    scan reset predictors and the EOB run."""
    import numpy as np

    n = len(b)
    hmax = max(hv >> 4 for _, hv, _ in sof_comps)
    vmax = max(hv & 0x0F for _, hv, _ in sof_comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    by_id = {}
    order = []
    for cid, hv, tq in sof_comps:
        h_i, v_i = hv >> 4, hv & 0x0F
        nbx, nby = mcux * h_i, mcuy * v_i
        cw = -(-(w * h_i) // hmax)
        chh = -(-(h * v_i) // vmax)
        c = {
            "h": h_i,
            "v": v_i,
            "tq": tq,
            "nbx": nbx,
            "nby": nby,
            "tnbx": -(-cw // 8),
            "tnby": -(-chh // 8),
            "coef": np.zeros((nbx * nby, 64), dtype=np.int32),
        }
        by_id[cid] = c
        order.append(c)
    saw_scan = False
    while i + 2 <= n:
        if b[i] != 0xFF:
            raise ValueError("desynced between scans")
        marker = b[i + 1]
        if marker == 0xD9:
            break  # EOI
        if i + 4 > n:
            raise ValueError("truncated segment")
        (ln,) = struct.unpack(">H", b[i + 2 : i + 4])
        payload = b[i + 4 : i + 2 + ln]
        if len(payload) != ln - 2:
            raise ValueError("truncated payload")
        if marker == 0xDB:
            p = 0
            while p < len(payload):
                pq, tq2 = payload[p] >> 4, payload[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant table")
                tab = [0] * 64
                for k in range(64):
                    tab[_ZIGZAG[k]] = payload[p + 1 + k]
                quant[tq2] = tab
                p += 65
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = tuple(payload[p + 1 : p + 17])
                nv = sum(bits)
                vals = tuple(payload[p + 17 : p + 17 + nv])
                (dc_spec if tc == 0 else ac_spec)[th] = (bits, vals)
                p += 17 + nv
        elif marker == 0xDD:
            if ln != 4:
                raise ValueError("bad DRI")
            (restart_interval,) = struct.unpack(">H", payload)
        elif marker == 0xDA:
            saw_scan = True
            i = _progressive_scan(
                b, i + 2 + ln, payload, by_id, dc_spec, ac_spec,
                restart_interval, mcux, mcuy,
            )
            continue
        elif (0xE0 <= marker <= 0xEF) or marker == 0xFE:
            pass  # APPn / COM between scans
        else:
            raise ValueError("unexpected marker between scans")
        i += 2 + ln
    if not saw_scan:
        raise ValueError("no scan before EOI")
    mat = _dct_matrix()
    planes = []
    for c in order:
        if c["tq"] not in quant:
            raise ValueError("missing quant table")
        q = np.asarray(quant[c["tq"]], dtype=np.float64).reshape(8, 8)
        s = c["coef"].astype(np.float64).reshape(-1, 8, 8) * q
        blk = np.einsum("ij,njk,kl->nil", mat.T, s, mat)
        px = np.clip(np.rint(blk) + 128, 0, 255).astype(np.uint8)
        nby, nbx = c["nby"], c["nbx"]
        plane = (
            px.reshape(nby, nbx, 8, 8).transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        )
        planes.append(plane)
    return planes, [hv for _, hv, _ in sof_comps], h, w


def _decode_jpeg_planes(b: bytes | None):
    """Component-plane decode shared by the grayscale and color wrappers:
    marker walk, DQT/DHT table load (arbitrary spec-valid tables, not just
    Annex K), huffman + DPCM entropy decode of the (possibly interleaved)
    scan, dequantization, float64 IDCT, level shift, clip. Profile:
    baseline sequential (SOF0), 8-bit tables, and either single
    component 1x1 (grayscale), 3 components all 1x1 (4:4:4), or ANY
    Y-subsampled 3-component layout — chroma 1x1, Y (h, v) each in 1..4
    with h*v <= 8 (the baseline 10-blocks-per-MCU bound): 4:2:0 (2x2),
    4:2:2 (2x1), 4:4:0 (1x2), 4:1:1 (4x1) and the rarer mixes, each MCU
    carrying h*v Y blocks + one Cb + one Cr per T.81 A.2.3. Restart-interval
    streams (DRI/RSTn, T.81 E.1.4) are IN profile: predictors reset at
    each marker and the modulo-8 marker count is verified, so a lost or
    out-of-sequence marker yields None rather than desynced pixels.
    PROGRESSIVE (SOF2) streams take the multi-scan accumulation path
    (``_decode_jpeg_progressive``). Anything else (other sampling mixes,
    arithmetic coding) returns None,
    same null discipline as ``decode_png_rgb``. Returns
    ``(planes, samplings, h, w)`` with one padded uint8 plane per SOF
    component in SOF order (chroma planes at their SUBSAMPLED
    resolution), or None."""
    import numpy as np

    if not b or len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return None
    quant = {}
    dc_spec = {}
    ac_spec = {}
    restart_interval = 0
    progressive = False
    h = w = -1
    sof_comps: list[tuple[int, int]] = []  # (component id, quant id), SOF order
    scan_tabs: dict[int, tuple[int, int]] = {}  # component id -> (dc id, ac id)
    i = 2
    n = len(b)
    try:
        while i + 4 <= n:
            if b[i] != 0xFF:
                return None
            marker = b[i + 1]
            if marker == 0xD9:
                return None  # EOI before SOS
            (ln,) = struct.unpack(">H", b[i + 2 : i + 4])
            payload = b[i + 4 : i + 2 + ln]
            if len(payload) != ln - 2:
                return None
            if marker == 0xDB:
                p = 0
                while p < len(payload):
                    pq, tq = payload[p] >> 4, payload[p] & 0x0F
                    if pq != 0:
                        return None  # 16-bit tables out of profile
                    tab = [0] * 64
                    for k in range(64):
                        tab[_ZIGZAG[k]] = payload[p + 1 + k]
                    quant[tq] = tab
                    p += 65
            elif marker == 0xC4:
                p = 0
                while p < len(payload):
                    tc, th = payload[p] >> 4, payload[p] & 0x0F
                    bits = tuple(payload[p + 1 : p + 17])
                    nv = sum(bits)
                    vals = tuple(payload[p + 17 : p + 17 + nv])
                    (dc_spec if tc == 0 else ac_spec)[th] = (bits, vals)
                    p += 17 + nv
            elif marker in (0xC0, 0xC2):
                progressive = marker == 0xC2
                if payload[0] != 8 or payload[5] not in (1, 3):
                    return None  # not 8-bit gray/YCbCr
                h, w = struct.unpack(">HH", payload[1:5])
                if h * w > _MAX_DECODE_PIXELS:
                    return None  # decode-bomb guard (see _MAX_DECODE_PIXELS)
                for c in range(payload[5]):
                    sof_comps.append(
                        (payload[6 + 3 * c], payload[7 + 3 * c], payload[8 + 3 * c])
                    )
                samp = [hv for _, hv, _ in sof_comps]
                # supported layouts: all 1x1 (gray / 4:4:4), or 3
                # components with chroma 1x1 and Y (h, v) each in 1..4
                # with h*v <= 8 (baseline MCU <= 10 blocks, T.81 B.2.3):
                # covers 4:2:0 (2x2), 4:2:2 (2x1), 4:4:0 (1x2), 4:1:1
                # (4x1) and the other spec-legal Y-subsampled layouts.
                # The MCU decode loop below is generic over h_i x v_i;
                # only the RGB wrapper needs the per-axis upsample.
                if samp != [0x11] * len(samp):
                    yh, yv = samp[0] >> 4, samp[0] & 0x0F
                    if (
                        len(samp) != 3
                        or samp[1] != 0x11
                        or samp[2] != 0x11
                        or not (1 <= yh <= 4 and 1 <= yv <= 4)
                        or yh * yv > 8
                        or yh * yv < 2
                    ):
                        return None  # non-Y-subsampled mixes: out of profile
            elif marker == 0xDD:
                if ln != 4:
                    return None
                (restart_interval,) = struct.unpack(">H", payload)
            elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                return None  # non-baseline/non-progressive SOF
            elif marker == 0xDA:
                # w/h both checked: a SOF0 declaring width 0 would otherwise
                # decode to a zero-size (h, 0) array and crash stats callers.
                if not sof_comps or h <= 0 or w <= 0:
                    return None
                if progressive:
                    # multi-scan coefficient accumulation path (Annex G);
                    # hand over AT the SOS marker — the progressive walk
                    # re-parses it and every subsequent segment itself.
                    return _decode_jpeg_progressive(
                        b, i, quant, dc_spec, ac_spec, sof_comps, h, w,
                        restart_interval,
                    )
                if payload[0] != len(sof_comps):
                    return None
                for j in range(payload[0]):
                    cid = payload[1 + 2 * j]
                    scan_tabs[cid] = (payload[2 + 2 * j] >> 4, payload[2 + 2 * j] & 0x0F)
                i += 2 + ln
                break
            i += 2 + ln
        else:
            return None
        mat = _dct_matrix()
        hmax = max(hv >> 4 for _, hv, _ in sof_comps)
        vmax = max(hv & 0x0F for _, hv, _ in sof_comps)
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)
        comps = []  # per component: (quant, dc tab, ac tab, plane, h_i, v_i)
        for cid, hv, tq in sof_comps:
            if cid not in scan_tabs or tq not in quant:
                return None
            td, ta = scan_tabs[cid]
            if td not in dc_spec or ta not in ac_spec:
                return None
            h_i, v_i = hv >> 4, hv & 0x0F
            comps.append(
                (
                    np.asarray(quant[tq], dtype=np.float64).reshape(8, 8),
                    _huff_decode_table(*dc_spec[td]),
                    _huff_decode_table(*ac_spec[ta]),
                    np.empty((mcuy * 8 * v_i, mcux * 8 * h_i), dtype=np.uint8),
                    h_i,
                    v_i,
                )
            )
        r = _BitReader(b, i)

        def read_symbol(tab) -> int:
            code = 0
            for ln2 in range(1, 17):
                code = (code << 1) | r.bit()
                if (ln2, code) in tab:
                    return tab[(ln2, code)]
            raise ValueError("invalid huffman code")

        # Interleaved scan (T.81 A.2.3): each MCU carries h_i x v_i blocks
        # per component in scan order (raster within the MCU), each
        # component with its own DC predictor. Gray and 4:4:4 degenerate
        # to one block per component; 4:2:0 is 4 Y + 1 Cb + 1 Cr.
        preds = [0] * len(comps)
        for m in range(mcux * mcuy):
            if restart_interval and m and m % restart_interval == 0:
                # T.81 E.1.4: byte-align, consume RSTn (n counts modulo 8,
                # so a lost/extra marker is detected), reset every DC
                # predictor for the next restart segment.
                if r.restart_marker() != (m // restart_interval - 1) % 8:
                    raise ValueError("restart marker out of sequence")
                preds = [0] * len(comps)
            my, mx = divmod(m, mcux)
            for ci, (q, dc_tab, ac_tab, out, h_i, v_i) in enumerate(comps):
                for byy in range(v_i):
                    for bxx in range(h_i):
                        zz = [0] * 64
                        t = read_symbol(dc_tab)
                        preds[ci] += _extend(r.bits(t), t) if t else 0
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            sym = read_symbol(ac_tab)
                            if sym == 0x00:
                                break
                            if sym == 0xF0:
                                k += 16
                                continue
                            run, t = sym >> 4, sym & 0x0F
                            k += run
                            if k > 63 or t == 0:
                                raise ValueError("corrupt AC run")
                            zz[k] = _extend(r.bits(t), t)
                            k += 1
                        s = np.zeros((8, 8), dtype=np.float64)
                        flat = s.reshape(-1)
                        for k in range(64):
                            if zz[k]:
                                flat[_ZIGZAG[k]] = zz[k]
                        blk = mat.T @ (s * q) @ mat
                        px = np.clip(np.rint(blk) + 128, 0, 255).astype(np.uint8)
                        oy = (my * v_i + byy) * 8
                        ox = (mx * h_i + bxx) * 8
                        out[oy : oy + 8, ox : ox + 8] = px
    except (ValueError, struct.error, IndexError):
        return None
    return [c[3] for c in comps], [hv for _, hv, _ in sof_comps], h, w


def decode_jpeg_gray(b: bytes | None):
    """Full pixel decode of a GRAYSCALE JPEG (baseline or progressive) via
    ``_decode_jpeg_planes``. Returns an (h, w) uint8 array cropped to the
    SOF dimensions, or None for anything outside the profile (including
    color streams — use ``decode_jpeg_rgb``). Inverse of
    ``encode_jpeg_gray`` at the coefficient level; exact at the pixel
    level for even-valued constant blocks (see section comment)."""
    got = _decode_jpeg_planes(b)
    if got is None or len(got[0]) != 1:
        return None
    planes, _, h, w = got
    return planes[0][:h, :w]


def decode_jpeg_rgb(b: bytes | None):
    """Full pixel decode of a COLOR JPEG — baseline or progressive, at
    any supported sampling: the three
    component planes from ``_decode_jpeg_planes`` (JFIF orders them
    Y, Cb, Cr in SOF) through the CCIR 601 inverse color transform
    (JFIF v1.02 §7):

        R = Y + 1.402 (Cr-128)
        G = Y - 0.344136 (Cb-128) - 0.714136 (Cr-128)
        B = Y + 1.772 (Cb-128)

    rounded as floor(x + 0.5) and clipped to [0, 255] — the rounding is
    pinned to floor(+0.5) (not banker's) so the SQL oracle can restate
    the matrix verbatim with FLOOR(). Handles every supported color
    sampling: 4:4:4 (chroma at full resolution) and any Y-subsampled
    layout (4:2:0, 4:2:2, 4:4:0, 4:1:1, ...), where each decoded chroma
    sample covers an (h x v) = Y-sampling luma region and is upsampled by
    per-axis pixel REPLICATION — nearest-neighbor, the pinned choice so
    the oracle can index chroma at x//h, y//v. Returns an (h, w, 3) uint8
    RGB array, or None outside the profile (grayscale streams — use
    ``decode_jpeg_gray`` — and other-sampling color); progressive color
    streams decode via the multi-scan path."""
    import numpy as np

    got = _decode_jpeg_planes(b)
    if got is None or len(got[0]) != 3:
        return None
    (yp, cbp, crp), samplings, h, w = got
    yv = yp[:h, :w].astype(np.float64)
    fy, fx = samplings[0] & 0x0F, samplings[0] >> 4  # chroma is 1x1, so
    # the per-axis replication factor IS Y's sampling (2x2 at 4:2:0, 2x1
    # at 4:2:2, 1x2 at 4:4:0, 4x1 at 4:1:1, ...)
    if fy > 1:
        cbp = np.repeat(cbp, fy, axis=0)
        crp = np.repeat(crp, fy, axis=0)
    if fx > 1:
        cbp = np.repeat(cbp, fx, axis=1)
        crp = np.repeat(crp, fx, axis=1)
    cb = cbp[:h, :w].astype(np.float64) - 128.0
    cr = crp[:h, :w].astype(np.float64) - 128.0
    r = np.floor(yv + 1.402 * cr + 0.5)
    g = np.floor(yv - 0.344136 * cb - 0.714136 * cr + 0.5)
    bl = np.floor(yv + 1.772 * cb + 0.5)
    return np.clip(np.stack([r, g, bl], axis=-1), 0, 255).astype(np.uint8)


JPEG_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_px", LongType(), True),
        StructField("sum_v", LongType(), True),
        StructField("min_v", IntegerType(), True),
        StructField("max_v", IntegerType(), True),
        StructField("mean_v", DoubleType(), True),
    ]
)


def extract_jpeg_stats(df: DataFrame, decoder=None) -> DataFrame:
    """Distributed pixel statistics over grayscale JPEG payloads
    (baseline or progressive) via the REAL entropy-level decode
    (``decode_jpeg_gray`` or any ``decoder=``): per-image luminance
    sum/min/max/mean. Undecodable, out-of-profile or zero-size payloads
    yield NULL stats."""
    decoder = decoder or decode_jpeg_gray

    def per_item(b):
        px = decoder(b)
        if _empty(px):
            return None
        h, w = px.shape
        total = int(px.sum(dtype=np.int64))
        n = w * h
        return [(w, h, n, total, int(px.min()), int(px.max()), total / n)]

    return _map_payloads(df, JPEG_STATS_SCHEMA, per_item)


# ---------------------------------------------------------------------------
# MP4 sample tables (ISO/IEC 14496-12) + MJPEG frame pixels: closes the
# video-pixel seam for INTRA-frame codecs. A motion-JPEG mp4 stores each
# frame as an independent baseline-JPEG sample; the stbl sample table
# (stsz sizes + stco chunk offsets + stsc chunk map) locates every sample
# inside mdat, so frame extraction is a byte-range slice + the JPEG decode
# above — no inter-frame prediction state. H.26x/VP9/AV1 (motion
# compensation, arithmetic coders) remain the documented seam.
# ---------------------------------------------------------------------------


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _full_box(typ: bytes, payload: bytes, version: int = 0, flags: int = 0) -> bytes:
    return _box(typ, bytes((version,)) + flags.to_bytes(3, "big") + payload)


def build_mp4_mjpeg(
    frames, timescale: int = 1000, frame_dur: int = 500, use_co64: bool = False
) -> bytes:
    """Assemble a spec-shaped MJPEG mp4: ftyp + moov(mvhd, trak(tkhd,
    mdia(mdhd, hdlr, minf(stbl(stsd 'jpeg', stts, stsc, stsz, stco)))))
    + mdat holding each frame's JPEG bytes as one sample. stco carries the
    real absolute mdat payload offset (moov is built twice: the offset
    field is fixed-width, so the second pass only fills the number in);
    ``use_co64`` stores it as the 64-bit co64 variant instead (what real
    muxers emit for >4 GB files). Write-time fixture synthesizer, same
    discipline as ``encode_png_rgb``."""
    frames = [bytes(f) for f in frames]
    n = len(frames)
    duration = n * frame_dur

    def moov(chunk_off: int) -> bytes:
        mvhd = _full_box(
            b"mvhd",
            struct.pack(">IIII", 0, 0, timescale, duration) + b"\x00" * 80,
        )
        tkhd = _full_box(
            b"tkhd", struct.pack(">IIIII", 0, 0, 1, 0, duration) + b"\x00" * 60, flags=7
        )
        mdhd = _full_box(
            b"mdhd", struct.pack(">IIII", 0, 0, timescale, duration) + b"\x55\xc4\x00\x00"
        )
        hdlr = _full_box(b"hdlr", struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"\x00")
        stsd = _full_box(
            b"stsd",
            struct.pack(">I", 1)
            + _box(b"jpeg", b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 70),
        )
        stts = _full_box(b"stts", struct.pack(">III", 1, n, frame_dur))
        stsc = _full_box(b"stsc", struct.pack(">IIII", 1, 1, n, 1))
        stsz = _full_box(
            b"stsz",
            struct.pack(">II", 0, n) + b"".join(struct.pack(">I", len(f)) for f in frames),
        )
        if use_co64:
            stco = _full_box(b"co64", struct.pack(">IQ", 1, chunk_off))
        else:
            stco = _full_box(b"stco", struct.pack(">II", 1, chunk_off))
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        trak = _box(b"trak", tkhd + mdia)
        return _box(b"moov", mvhd + trak)

    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isommp41")
    probe = moov(0)
    chunk_off = len(ftyp) + len(probe) + 8  # + mdat header
    body = moov(chunk_off)
    mdat = _box(b"mdat", b"".join(frames))
    return ftyp + body + mdat


def parse_mp4_samples(b: bytes | None):
    """Walk the ISO-BMFF box tree to the first video track's sample table
    and return [(absolute_offset, size)] for every sample. Profile:
    32-bit and ``largesize`` (size==1, 64-bit) boxes, chunk offsets from
    stco (32-bit) or co64 (64-bit — what muxers emit past 4 GB), stsz
    with a per-sample size list or a fixed size, samples
    laid sequentially per chunk (the stsc map is applied chunk by chunk).
    Returns None for anything unrecognizable — same null discipline as the
    other parsers."""
    if not b or len(b) < 16:
        return None

    def children(lo: int, hi: int):
        out = []
        i = lo
        while i + 8 <= hi:
            (size,) = struct.unpack(">I", b[i : i + 4])
            typ = b[i + 4 : i + 8]
            hdr = 8
            if size == 1:  # largesize: 64-bit size follows the type
                if i + 16 > hi:
                    return None
                (size,) = struct.unpack(">Q", b[i + 8 : i + 16])
                hdr = 16
            if size < hdr or i + size > hi:
                return None
            out.append((typ, i + hdr, i + size))
            i += size
        return out

    def find(lo: int, hi: int, path):
        boxes = children(lo, hi)
        if boxes is None:
            return None
        for typ, clo, chi in boxes:
            if typ == path[0]:
                if len(path) == 1:
                    return (clo, chi)
                got = find(clo, chi, path[1:])
                if got is not None:
                    return got
        return None

    try:
        stbl = find(0, len(b), [b"moov", b"trak", b"mdia", b"minf", b"stbl"])
        if stbl is None:
            return None
        tables = {}
        for typ, clo, chi in children(*stbl) or []:
            tables[typ] = (clo, chi)
        if b"stsz" not in tables or b"stsc" not in tables:
            return None
        if b"stco" not in tables and b"co64" not in tables:
            return None
        # Untrusted declared counts: every table read is bounded by its own
        # box end (``hi``) so a corrupt count can neither read neighboring
        # boxes as entries nor ([fixed]*count) attempt a multi-GB allocation.
        lo, hi = tables[b"stsz"]
        fixed, count = struct.unpack(">II", b[lo + 4 : lo + 12])
        if fixed:
            # samples can't total more bytes than the file holds
            if count > len(b) or fixed * count > len(b):
                return None
            sizes = [fixed] * count
        else:
            if lo + 12 + 4 * count > hi:
                return None
            sizes = [
                struct.unpack(">I", b[lo + 12 + 4 * k : lo + 16 + 4 * k])[0]
                for k in range(count)
            ]
        wid = 4 if b"stco" in tables else 8
        lo, hi = tables[b"stco"] if wid == 4 else tables[b"co64"]
        (n_chunks,) = struct.unpack(">I", b[lo + 4 : lo + 8])
        if lo + 8 + wid * n_chunks > hi:
            return None
        fmt = ">I" if wid == 4 else ">Q"
        offsets = [
            struct.unpack(fmt, b[lo + 8 + wid * k : lo + 8 + wid * (k + 1)])[0]
            for k in range(n_chunks)
        ]
        lo, hi = tables[b"stsc"]
        (n_ent,) = struct.unpack(">I", b[lo + 4 : lo + 8])
        if lo + 8 + 12 * n_ent > hi:
            return None
        ents = [
            struct.unpack(">III", b[lo + 8 + 12 * k : lo + 20 + 12 * k])
            for k in range(n_ent)
        ]
        # expand stsc: samples-per-chunk for each chunk index (1-based)
        per_chunk = []
        for e_i, (first, spc, _desc) in enumerate(ents):
            last = ents[e_i + 1][0] - 1 if e_i + 1 < len(ents) else n_chunks
            per_chunk.extend([spc] * (last - first + 1))
        out = []
        s = 0
        for c_i, coff in enumerate(offsets):
            pos = coff
            for _ in range(per_chunk[c_i] if c_i < len(per_chunk) else 0):
                if s >= len(sizes):
                    break
                out.append((pos, sizes[s]))
                pos += sizes[s]
                s += 1
        if s != len(sizes):
            return None
        return out
    except (struct.error, IndexError):
        return None


VIDEO_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_frames", IntegerType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_px", LongType(), True),
        StructField("sum_v", LongType(), True),
        StructField("min_v", IntegerType(), True),
        StructField("max_v", IntegerType(), True),
        StructField("mean_v", DoubleType(), True),
    ]
)


def _mjpeg_frames(b: bytes | None):
    """The frame walk of every video extractor: the sample table
    (``parse_mp4_samples``) slices each frame out of mdat and
    ``decode_jpeg_gray`` reconstructs its (h, w) uint8 luminance,
    yielded one frame at a time in sample order (frame t needs only
    t-1, so a video never sits decoded in memory). Yields None, and
    stops, where the video is void: no sample table or no samples, or
    a frame that fails to decode, decodes empty, or changes shape — the
    callers NULL the row, never report a partial answer."""
    samples = parse_mp4_samples(b)
    if not samples:
        yield None
        return
    shape = None
    for off, size in samples:
        px = decode_jpeg_gray(b[off : off + size])
        if _empty(px) or (shape is not None and px.shape != shape):
            yield None
            return
        shape = px.shape
        yield px


def _frame_cut(prev, cur, mean_diff_gt: int) -> tuple[int, bool]:
    """The cut rule shared by the scene and keyframe extractors: the total
    absolute luminance difference of adjacent frames (int64, exact) and
    whether it makes frame ``cur`` a cut, diff > mean_diff_gt * n_px (an
    integer compare, no float thresholds)."""
    d = int(np.abs(np.subtract(cur, prev, dtype=np.int64)).sum())
    return d, d > mean_diff_gt * cur.size


def extract_video_frame_stats(df: DataFrame) -> DataFrame:
    """Distributed FRAME-PIXEL statistics over MJPEG mp4 payloads through
    the shared frame walk (:func:`_mjpeg_frames`). Per video: decoded
    frame count, frame dimensions, total pixels, and luminance
    sum/min/max/mean across ALL frames. Videos outside the profile (or
    with any undecodable frame) yield NULL stats."""

    def per_item(b):
        n = total = 0
        lo, hi = 255, 0
        for px in _mjpeg_frames(b):
            if px is None:
                return None
            n += 1
            total += int(px.sum(dtype=np.int64))
            lo, hi = min(lo, int(px.min())), max(hi, int(px.max()))
        h, w = px.shape
        n_px = n * w * h
        return [(n, w, h, n_px, total, lo, hi, total / n_px)]

    return _map_payloads(df, VIDEO_STATS_SCHEMA, per_item)


ANIMATION_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_px", LongType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
        StructField("mean_r", DoubleType(), True),
        StructField("mean_g", DoubleType(), True),
        StructField("mean_b", DoubleType(), True),
    ]
)


def extract_gif_animation_stats(df: DataFrame) -> DataFrame:
    """Distributed COMPOSITED-CANVAS statistics over GIF animations: one
    output row per composited frame (what a viewer shows after each
    image is applied — partial-canvas placement, GCE transparency, and
    disposal 0/1/2/3 all resolved by :func:`decode_gif_animation`), with
    the RGB sums and means of :func:`extract_pixel_stats`. An
    undecodable or out-of-profile payload yields ONE row with NULL
    frame_idx and NULL stats — items are voided whole, never reported
    partially (the video extractors' discipline)."""

    def per_item(b):
        frames = decode_gif_animation(b)
        stats = None if frames is None else [_rgb_stats(fr) for fr in frames]
        if stats is None or None in stats:
            return None
        return [(k, *s) for k, s in enumerate(stats)]

    return _map_payloads(df, ANIMATION_STATS_SCHEMA, per_item)


SCENE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_frames", IntegerType(), True),
        StructField("n_cuts", IntegerType(), True),
        StructField("first_cut", IntegerType(), True),
        StructField("sum_diff", LongType(), True),
        StructField("max_diff", LongType(), True),
    ]
)


def extract_video_scene_changes(df: DataFrame, mean_diff_gt: int = 8) -> DataFrame:
    """Distributed SCENE-CHANGE detection over MJPEG mp4 payloads — the
    shot-boundary pass a video training corpus runs before frame
    sampling, so sampled frames cover scenes instead of duplicating one:
    every adjacent frame pair reduces to its total absolute luminance
    difference, and frame t is a CUT by :func:`_frame_cut`. Per video:
    decoded frame count, cut count, first cut index (NULL when the video
    is one scene), and the sum/max of the per-transition diffs. The
    recurrence stays inside one item (:func:`_mjpeg_frames`), so videos
    still parallelize freely; any undecodable or shape-shifting frame
    voids the row."""

    def per_item(b):
        n_cuts = sum_diff = max_diff = 0
        first_cut = prev = None
        for f, px in enumerate(_mjpeg_frames(b)):
            if px is None:
                return None
            if prev is not None:
                d, cut = _frame_cut(prev, px, mean_diff_gt)
                sum_diff += d
                max_diff = max(max_diff, d)
                if cut:
                    n_cuts += 1
                    if first_cut is None:
                        first_cut = f
            prev = px
        return [(f + 1, n_cuts, first_cut, sum_diff, max_diff)]

    return _map_payloads(df, SCENE_SCHEMA, per_item)


# ---------------------------------------------------------------------------
# Perceptual image hashing (dHash): the image-side near-duplicate key —
# resize-robust 64-bit gradient fingerprint over the REAL pixel decode,
# composing the codec layer above with the dedup machinery
# (operators/dedup.py): decode -> dHash -> banded 16-bit LSH equi-join ->
# exact hamming verify, the same pigeonhole shape as SimHash text dedup
# (hamming <= 3 across 4 bands guarantees one equal band — lossless).
# ---------------------------------------------------------------------------


def dhash64(rgb):
    """The classic difference hash over an (h, w, 3) uint8 RGB array:
    integer grayscale (sum // 3), floor-partition pooling to an 8x9 grid
    (pixel (x, y) belongs to cell ((x*9)//w, (y*8)//h); cell value =
    floor mean), one bit per horizontally-adjacent cell pair
    (right > left), packed LSB-first at position 8*y + x. Returns
    (dhash, b0, b1, b2, b3) — the hash as a SIGNED int64 (bit 63 wraps,
    matching SQL BIGINT arithmetic) plus the four 16-bit band chunks the
    LSH join keys on — or None for images smaller than the grid.
    Pure integer arithmetic end to end, which is what lets the oracle
    restate the hash in SQL from fixture pixel formulas."""
    import numpy as np

    a = np.asarray(rgb, dtype=np.int64)
    h, w = a.shape[0], a.shape[1]
    if h < 8 or w < 9:
        return None
    gray = a.sum(axis=2) // 3
    yb = (np.arange(h) * 8) // h
    xb = (np.arange(w) * 9) // w
    sums = np.zeros((8, 9), dtype=np.int64)
    np.add.at(sums, (yb[:, None], xb[None, :]), gray)
    counts = np.bincount(yb, minlength=8)[:, None] * np.bincount(
        xb, minlength=9
    )[None, :]
    cells = sums // counts
    bits = (cells[:, 1:] > cells[:, :-1]).flatten()  # position 8*y + x
    chunks = [
        int(sum(1 << k for k in range(16) if bits[16 * b + k]))
        for b in range(4)
    ]
    dh = chunks[0] | (chunks[1] << 16) | (chunks[2] << 32) | (chunks[3] << 48)
    if dh >= 1 << 63:
        dh -= 1 << 64  # signed int64 wrap, same as BIGINT composition
    return dh, *chunks


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("dhash", LongType(), True),
        StructField("b0", IntegerType(), True),
        StructField("b1", IntegerType(), True),
        StructField("b2", IntegerType(), True),
        StructField("b3", IntegerType(), True),
    ]
)


def extract_image_dhash(df: DataFrame, decoder=None) -> DataFrame:
    """Distributed perceptual hashing: (media_id, width, height, dhash,
    b0..b3) per payload via the REAL pixel decode (PNG by default, any
    RGB ``decoder=``) + :func:`dhash64`. Undecodable or sub-grid
    payloads yield NULL hash columns."""
    decoder = decoder or decode_png_rgb

    def per_item(b):
        dec = decoder(b)
        got = None if dec is None else dhash64(dec)
        return None if got is None else [(int(dec.shape[1]), int(dec.shape[0]), *got)]

    return _map_payloads(df, DHASH_SCHEMA, per_item)


def dhash_neardup_pairs(
    hashes: DataFrame, max_hamming: int = 3, hash_col: str = "dhash"
) -> DataFrame:
    """Near-duplicate pairs by banded 64-bit hamming LSH (``hash_col`` +
    band chunks b0..b3 — dHash for images, the energy-contour
    fingerprint for audio): unpivot the four
    16-bit bands, equi-join on (band, chunk) with id_a < id_b (one-sided,
    never all-pairs), then exact-verify hamming(dhash_a, dhash_b) <=
    max_hamming with a JVM-side bit_count(xor). Pigeonhole: hamming <= 3
    differing bits cannot touch all 4 bands, so at least one band
    collides — the candidate set is LOSSLESS for max_hamming <= 3, the
    same guarantee as the SimHash chunk blocking in operators/dedup.py.
    Output: (id_a, id_b, hamming), distinct. At corpus scale the join
    shuffles on (band, chunk) — band cardinality 4 x 65536 spreads load;
    a pathological single-chunk pileup is the same skew surface as any
    LSH bucket join and takes the same salting/cap treatment."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("banded 4x16 LSH is lossless only for max_hamming <= 3")
    from pyspark.sql import functions as F

    bands = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col("media_id"),
        F.col(hash_col).alias("dhash"),
        F.stack(
            F.lit(4),
            F.lit(0), F.col("b0"),
            F.lit(1), F.col("b1"),
            F.lit(2), F.col("b2"),
            F.lit(3), F.col("b3"),
        ).alias("band", "chunk"),
    )
    left = bands.select(
        F.col("media_id").alias("id_a"),
        F.col("dhash").alias("dh_a"),
        "band",
        "chunk",
    )
    right = bands.select(
        F.col("media_id").alias("id_b"),
        F.col("dhash").alias("dh_b"),
        "band",
        "chunk",
    )
    return (
        left.join(right, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("dh_a").bitwiseXOR(F.col("dh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def audio_fingerprint64(samples):
    """Energy-contour fingerprint of a decoded sample stream (the audio
    twin of :func:`dhash64`): the flat interleaved int16 array is floor-
    partitioned into 65 windows (sample j belongs to window
    (j*65)//n, the same partition rule as the dHash grid), each window
    reduces to its int64 sum of |x|, and one bit per adjacent-window
    pair (right > left) packs LSB-first into a signed 64-bit key plus
    four 16-bit band chunks. Duration/level-robust in the way dHash is
    resize/brightness-robust: the CONTOUR of the energy envelope is the
    signal, not absolute values. Returns (fp, b0, b1, b2, b3), or None
    for streams shorter than 65 samples. Exact integer arithmetic, so a
    SQL oracle can restate it from fixture formulas."""
    import numpy as np

    s = np.asarray(samples)
    n = s.shape[0]
    if n < 65:
        return None
    mag = np.abs(s.astype(np.int64))
    wb = (np.arange(n, dtype=np.int64) * 65) // n
    sums = np.zeros(65, dtype=np.int64)
    np.add.at(sums, wb, mag)
    bits = sums[1:] > sums[:-1]
    chunks = [
        int(sum(1 << k for k in range(16) if bits[16 * b + k]))
        for b in range(4)
    ]
    fp = chunks[0] | (chunks[1] << 16) | (chunks[2] << 32) | (chunks[3] << 48)
    if fp >= 1 << 63:
        fp -= 1 << 64
    return fp, *chunks


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("channels", IntegerType(), True),
        StructField("n_samples", LongType(), True),
        StructField("fp", LongType(), True),
        StructField("b0", IntegerType(), True),
        StructField("b1", IntegerType(), True),
        StructField("b2", IntegerType(), True),
        StructField("b3", IntegerType(), True),
    ]
)


def extract_audio_fingerprint(df: DataFrame, decoder=None) -> DataFrame:
    """Distributed audio fingerprinting: (media_id, channels, n_samples,
    fp, b0..b3) per payload via the REAL sample decode
    (``decode_wav_pcm`` or any ``decoder=``) + :func:`audio_fingerprint64`.
    Undecodable or sub-window payloads yield NULL fingerprint columns.
    Feed the result to :func:`dhash_neardup_pairs` (hash_col="fp") for
    the banded near-dup join."""
    decoder = decoder or decode_wav_pcm

    def per_item(b):
        dec = decoder(b)
        got = None if dec is None else audio_fingerprint64(dec[2])
        return None if got is None else [(int(dec[0]), len(dec[2]), *got)]

    return _map_payloads(df, AUDIO_FP_SCHEMA, per_item)


def media_neardup_route(
    batch: DataFrame,
    corpus: DataFrame,
    max_hamming: int = 3,
    hash_col: str = "dhash",
) -> DataFrame:
    """Route a NEW media batch against an EXISTING corpus fingerprint
    index — the steady-state ingestion shape (the media twin of
    ``operators/dedup.incremental_dedup``): both inputs carry
    (media_id, ``hash_col``, b0..b3) rows (from
    :func:`extract_image_dhash` / :func:`extract_audio_fingerprint`, or
    read back from a persisted index table). ONE-SIDED banded join
    (batch bands x corpus bands on (band, chunk) — never a corpus
    self-join), exact bit_count(xor) <= max_hamming verify, then each
    batch item resolves to its smallest-id corpus match
    (deterministic) or stays kept. Undecodable batch rows (NULL hash)
    route to ``undecodable`` — at ingest they go to quarantine, not
    silently into the corpus. Output: (media_id, status
    kept|dup_near|undecodable, match_id, hamming)."""
    if not 0 <= max_hamming <= 3:
        raise ValueError("banded 4x16 LSH is lossless only for max_hamming <= 3")
    from pyspark.sql import functions as F

    def bands(df: DataFrame, prefix: str) -> DataFrame:
        return df.filter(F.col(hash_col).isNotNull()).select(
            F.col("media_id").alias(f"{prefix}_id"),
            F.col(hash_col).alias(f"{prefix}_hash"),
            F.stack(
                F.lit(4),
                F.lit(0), F.col("b0"),
                F.lit(1), F.col("b1"),
                F.lit(2), F.col("b2"),
                F.lit(3), F.col("b3"),
            ).alias("band", "chunk"),
        )

    matches = (
        bands(batch, "batch")
        .join(bands(corpus, "corpus"), ["band", "chunk"])
        .select(
            "batch_id",
            "corpus_id",
            F.bit_count(
                F.col("batch_hash").bitwiseXOR(F.col("corpus_hash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("batch_id")
        .agg(F.min(F.struct("corpus_id", "hamming")).alias("m"))
    )
    return batch.select(
        "media_id", F.col(hash_col).isNull().alias("_bad")
    ).join(matches, F.col("media_id") == F.col("batch_id"), "left").select(
        "media_id",
        F.when(F.col("_bad"), F.lit("undecodable"))
        .when(F.col("m").isNotNull(), F.lit("dup_near"))
        .otherwise(F.lit("kept"))
        .alias("status"),
        F.col("m.corpus_id").alias("match_id"),
        F.col("m.hamming").alias("hamming"),
    )


# ---------------------------------------------------------------------------
# TIFF codec: REAL pixel decode of the scanned-document/archival format —
# a genuine structured-container parse (byte-order-polymorphic IFD walk,
# inline-vs-offset tag values, strip reassembly) over three compressions:
# 1 (none, memcpy-class), 32773 (PackBits run-length, TIFF 6.0 §9), and
# 5 (TIFF LZW, TIFF 6.0 §13 — MSB-first bit packing, 9->12-bit codes
# with the EARLY-CHANGE width rule, per-strip streams). JPEG-in-TIFF and
# the exotic compressions stay behind the seam.
# ---------------------------------------------------------------------------

_TIFF_TYPE_SIZES = {1: 1, 3: 2, 4: 4}  # BYTE, SHORT, LONG


def _packbits_encode(data: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits: repeat runs as (257-n, byte), literal runs
    as (n-1, bytes); literals break at any 3-byte repeat. Write-time
    fixture compressor."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j < n - 1 and data[j] == data[j + 1] and j - i < 127:
            j += 1
        if j > i:
            out.append((257 - (j - i + 1)) & 0xFF)
            out.append(data[i])
            i = j + 1
            continue
        j = i
        while j < n and j - i < 128:
            if j < n - 2 and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


def _packbits_decode(data: bytes, expect: int) -> bytes | None:
    """Inverse of :func:`_packbits_encode`: decodes exactly ``expect``
    bytes (bounded — a hostile run count cannot overshoot); None on any
    truncation or length mismatch. Control byte 128 is the spec noop."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expect:
        c = data[i]
        i += 1
        if c < 128:
            if i + c + 1 > n:
                return None
            out += data[i : i + c + 1]
            i += c + 1
        elif c > 128:
            if i >= n:
                return None
            out += bytes([data[i]]) * (257 - c)
            i += 1
    return bytes(out) if len(out) == expect else None


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first bit packing, Clear=256 / EOI=257,
    codes grow 9->12 bits under the EARLY-CHANGE rule (width bumps when
    the next free code reaches 2^w - 1, one before the boundary — the
    convention every TIFF writer uses), table reset via Clear before the
    12-bit space fills. Write-time fixture compressor."""
    clear, eoi = 256, 257
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table = {bytes([j]): j for j in range(256)}
    next_code, width = 258, 9
    put(clear, width)
    run = b""
    for byte in data:
        cand = run + bytes([byte])
        if cand in table:
            run = cand
            continue
        put(table[run], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1  # early change
        if next_code >= 4094:  # spec: writers clear before the space fills
            put(clear, width)
            table = {bytes([j]): j for j in range(256)}
            next_code, width = 258, 9
        run = bytes([byte])
    if run:
        put(table[run], width)
        # the decoder adds one final table entry while processing this
        # code (it cannot know the stream ends) and early-changes if that
        # entry lands exactly on 2^w - 2 — mirror the bump, or EOI goes
        # out one bit narrower than the decoder reads it (hypothesis
        # found the corner: a strip whose final code's append hits the
        # boundary, ~3/4096 of random strips)
        if next_code == (1 << width) - 2 and width < 12:
            width += 1
    put(eoi, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_lzw_decode(data: bytes, expect: int) -> bytes | None:
    """Inverse of :func:`_tiff_lzw_encode` (decodes exactly ``expect``
    bytes, None on malformation): MSB-first reads, KwKwK, Clear resets.
    The decoder's table runs ONE entry behind the encoder's, so the
    early-change width bump fires at len(table) == 2^w - 2 — the
    classic off-by-one every TIFF LZW implementation must get right."""
    clear, eoi = 256, 257
    out = bytearray()
    pos_bits, total_bits = 0, len(data) * 8
    width = 9

    def get() -> int | None:
        nonlocal pos_bits
        if pos_bits + width > total_bits:
            return None
        end = pos_bits + width
        val = int.from_bytes(
            data[pos_bits >> 3 : (end + 7) >> 3], "big"
        ) >> ((-end) % 8)
        val &= (1 << width) - 1
        pos_bits = end
        return val

    table = [bytes([j]) for j in range(256)] + [b"", b""]
    prev = None
    while True:
        code = get()
        if code is None:
            # writers that emit EOI one width too narrow (the final-code
            # early-change corner — pre-fix fixtures, some legacy
            # encoders) or omit EOI entirely still produced a complete
            # strip iff exactly the expected bytes decoded; accept that
            # and only that
            return bytes(out) if len(out) == expect else None
        if code == clear:
            table = [bytes([j]) for j in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4094:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4094:  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            return None
        if len(table) == (1 << width) - 2 and width < 12:
            width += 1  # early change, one entry behind the encoder
        out += entry
        if len(out) > expect:
            return None
        prev = entry
    return bytes(out) if len(out) == expect else None


def _tiff_deflate_decode(raw: bytes, expect: int) -> bytes | None:
    """Bounded zlib inflate of one Deflate strip (TIFF compression 8,
    "Adobe Deflate" — what ImageMagick/Photoshop write): ask for at most
    expect+1 bytes so an over-long strip is detected without ever
    materializing (the PNG IDAT discipline); under-length and trailing
    garbage also reject."""
    import zlib

    d = zlib.decompressobj()
    try:
        out = d.decompress(raw, expect + 1)
    except zlib.error:
        return None
    if len(out) != expect or not d.eof or d.unused_data:
        return None
    return out


_TIFF_STRIP_CODECS = {
    1: (lambda raw: raw, lambda raw, expect: raw if len(raw) == expect else None),
    5: (_tiff_lzw_encode, _tiff_lzw_decode),
    8: (
        lambda raw: __import__("zlib").compress(raw, 6),
        _tiff_deflate_decode,
    ),
    32773: (_packbits_encode, _packbits_decode),
}


def _tiff_pack_ifd(entries, order: str, data_offset: int):
    """(tag -> (type, [values])) dict -> (ifd_bytes, out_of_line_bytes).
    Values that fit in 4 bytes inline; larger arrays spill to
    data_offset onward (the spec's value-or-offset rule)."""
    e = "<" if order == "II" else ">"
    fmt = {1: "B", 3: "H", 4: "I"}
    ifd = struct.pack(e + "H", len(entries))
    spill = b""
    for tag in sorted(entries):
        typ, vals = entries[tag]
        raw = b"".join(struct.pack(e + fmt[typ], v) for v in vals)
        if len(raw) <= 4:
            val = raw + b"\x00" * (4 - len(raw))
        else:
            val = struct.pack(e + "I", data_offset + len(spill))
            spill += raw
        ifd += struct.pack(e + "HHI", tag, typ, len(vals)) + val
    ifd += struct.pack(e + "I", 0)  # no next IFD
    return ifd, spill


def encode_tiff(
    px,
    order: str = "II",
    rows_per_strip: int | None = None,
    compression: int = 1,
    predictor: int = 1,
) -> bytes:
    """Encode an (h, w) grayscale or (h, w, 3) RGB uint8 array as a
    spec-valid TIFF 6.0 (chunky, strip layout, 'II' little- or 'MM'
    big-endian; ``compression`` 1 = none, 5 = LZW, 8 = Deflate (zlib),
    32773 = PackBits,
    applied per strip as the spec requires; ``predictor`` 2 horizontal-
    differences each row per sample before compression — TIFF 6.0 §14,
    the layout libtiff writes for LZW by default — and emits tag 317).
    Write-time fixture synthesizer — any standard reader (libtiff,
    viewers) accepts the layout."""
    import numpy as np

    a = np.asarray(px, dtype=np.uint8)
    gray = a.ndim == 2
    h, w = a.shape[0], a.shape[1]
    spp = 1 if gray else 3
    rps = rows_per_strip or h
    e = "<" if order == "II" else ">"
    if compression not in _TIFF_STRIP_CODECS:
        raise ValueError("compression must be 1 (none), 5 (LZW), 8 (Deflate), or 32773 (PackBits)")
    if predictor not in (1, 2):
        raise ValueError("predictor must be 1 (none) or 2 (horizontal differencing)")
    if predictor == 2:
        planes = a.reshape(h, w, spp).astype(np.uint8)
        diff = planes.copy()
        diff[:, 1:, :] = planes[:, 1:, :] - planes[:, :-1, :]  # uint8 wraps mod 256
        a = diff.reshape(a.shape)
    enc = _TIFF_STRIP_CODECS[compression][0]
    strips = [
        enc(a[y0 : y0 + rps].tobytes()) for y0 in range(0, h, rps)
    ]
    # layout: 8-byte header | pixel strips | IFD | out-of-line tag values
    strip_offsets, off = [], 8
    for s_ in strips:
        strip_offsets.append(off)
        off += len(s_)
    ifd_offset = off
    entries = {
        256: (4, [w]),
        257: (4, [h]),
        258: (3, [8] * spp),
        259: (3, [compression]),
        262: (3, [1 if gray else 2]),  # BlackIsZero / RGB
        273: (4, strip_offsets),
        277: (3, [spp]),
        278: (4, [rps]),
        279: (4, [len(s_) for s_ in strips]),
    }
    if predictor == 2:
        entries[317] = (3, [2])
    # IFD size: 2 + 12*n_entries + 4 (known before packing)
    ifd_size = 2 + 12 * len(entries) + 4
    ifd, spill = _tiff_pack_ifd(entries, order, ifd_offset + ifd_size)
    header = (order.encode() + struct.pack(e + "HI", 42, ifd_offset))
    return header + b"".join(strips) + ifd + spill


def decode_tiff_rgb(b: bytes | None):
    """Full pixel decode of a TIFF payload at the supported profile —
    TIFF 6.0, either byte order, compression 1 (none) / 5 (LZW, early-
    change) / 8 (Deflate, bounded zlib) / 32773 (PackBits), predictor
    1 (none) or 2 (horizontal
    differencing, TIFF 6.0 §14 — rows are per-sample delta streams and
    the decoder re-accumulates mod 256), 8 bits per sample, chunky
    grayscale (replicated to RGB) or RGB, strip layout — returning
    (h, w, 3) uint8, or None for anything unrecognizable or outside
    that profile (JPEG-in-TIFF, planar, tiles, 1/4/16-bit, other
    predictors, truncated or wrong-length strips → None, never a
    crash). Walks the first IFD with the spec's value-or-offset rule;
    decode-bomb guarded by ``_MAX_DECODE_PIXELS`` and exact per-strip
    expected lengths."""
    import numpy as np

    if not b or len(b) < 8 or b[:2] not in (b"II", b"MM"):
        return None
    e = "<" if b[:2] == b"II" else ">"
    magic, ifd_off = struct.unpack_from(e + "HI", b, 2)
    if magic != 42 or ifd_off + 2 > len(b):
        return None
    (n_entries,) = struct.unpack_from(e + "H", b, ifd_off)
    if ifd_off + 2 + 12 * n_entries + 4 > len(b):
        return None
    tags: dict[int, list[int]] = {}
    fmt = {1: "B", 3: "H", 4: "I"}
    for k in range(n_entries):
        at = ifd_off + 2 + 12 * k
        tag, typ, cnt = struct.unpack_from(e + "HHI", b, at)
        if typ not in _TIFF_TYPE_SIZES:
            continue  # rational/ascii metadata tags: irrelevant here
        size = _TIFF_TYPE_SIZES[typ] * cnt
        src = at + 8
        if size > 4:
            (src,) = struct.unpack_from(e + "I", b, at + 8)
        if src + size > len(b):
            return None
        tags[tag] = list(
            struct.unpack_from(e + str(cnt) + fmt[typ], b, src)
        )
    try:
        w, h = tags[256][0], tags[257][0]
        offsets, counts = tags[273], tags[279]
        spp = tags.get(277, [1])[0]
        photo = tags[262][0]
        rps = tags.get(278, [h])[0]
    except (KeyError, IndexError):
        return None
    compression = tags.get(259, [1])[0]
    if compression not in _TIFF_STRIP_CODECS or tags.get(284, [1])[0] != 1:
        return None  # unsupported compression or planar: out of profile
    predictor = tags.get(317, [1])[0]
    if predictor not in (1, 2):
        return None  # floating-point predictor (3) etc.: out of profile
    if tags.get(258, [8])[:spp] != [8] * spp:
        return None
    if (photo, spp) not in ((1, 1), (2, 3)):
        return None
    if w <= 0 or h <= 0 or w * h > _MAX_DECODE_PIXELS or rps <= 0:
        return None
    if len(offsets) != len(counts) or len(offsets) != (h + rps - 1) // rps:
        return None
    row_bytes = w * spp
    dec = _TIFF_STRIP_CODECS[compression][1]
    data = bytearray()
    for i, (off, cnt) in enumerate(zip(offsets, counts)):
        rows = min(rps, h - i * rps)
        if off + cnt > len(b):
            return None
        strip = dec(b[off : off + cnt], rows * row_bytes)
        if strip is None:
            return None
        data += strip
    px = np.frombuffer(bytes(data), dtype=np.uint8)
    if predictor == 2:
        # horizontal differencing: each row is a per-sample delta stream;
        # re-accumulate left-to-right in uint8 (wrap-exact mod 256)
        px = np.cumsum(px.reshape(h, w, spp), axis=1, dtype=np.uint8).reshape(-1)
    if spp == 1:
        g = px.reshape(h, w)
        return np.ascontiguousarray(np.repeat(g[:, :, None], 3, axis=2))
    return np.ascontiguousarray(px.reshape(h, w, 3))


KEYFRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_frames", IntegerType(), True),
        StructField("n_keyframes", IntegerType(), True),
        StructField("keyframe_idx", ArrayType(IntegerType()), True),
        StructField("kf_sum_v", LongType(), True),
        StructField("kf_min_v", IntegerType(), True),
        StructField("kf_max_v", IntegerType(), True),
    ]
)


def extract_keyframe_stats(df: DataFrame, mean_diff_gt: int = 8) -> DataFrame:
    """Scene-aware KEYFRAME extraction — the sampling pass that follows
    shot-boundary detection: frame 0 plus the first frame of every new
    scene (a cut by the same rule as
    :func:`extract_video_scene_changes`, :func:`_frame_cut`) become the
    video's keyframes, and the luminance stats aggregate over KEYFRAMES
    ONLY — one representative frame per scene instead of fps-uniform
    frames that oversample long static shots. Per video: frame count,
    keyframe count, the keyframe index list, and sum/min/max over
    keyframe pixels. Same voiding discipline as the other video
    extractors (any undecodable frame -> NULL row)."""

    def per_item(b):
        kf_idx: list[int] = []
        total, lo, hi = 0, 255, 0
        prev = None
        for f, px in enumerate(_mjpeg_frames(b)):
            if px is None:
                return None
            if prev is None or _frame_cut(prev, px, mean_diff_gt)[1]:
                kf_idx.append(f)
                total += int(px.sum(dtype=np.int64))
                lo, hi = min(lo, int(px.min())), max(hi, int(px.max()))
            prev = px
        return [(f + 1, len(kf_idx), kf_idx, total, lo, hi)]

    return _map_payloads(df, KEYFRAME_SCHEMA, per_item)


# ---------------------------------------------------------------------------
# MP3 frame walk: METADATA-ONLY triage of MPEG audio (ISO 11172-3 /
# 13818-3 framing) — the header chain is walked for real (sync, version,
# bitrate/samplerate tables, per-frame lengths, ID3v2 skip, ID3v1
# trailer), which is what a corpus needs to count/duration-bucket audio
# before deciding what to transcode; the PERCEPTUAL decode itself
# (hybrid filterbank + huffman) is library-grade and stays behind the
# documented codec seam like MP3/AAC/Opus sample decode.
# ---------------------------------------------------------------------------

#: Layer III bitrate tables, kbps, indexed 1..14 (0 = free and 15 = bad
#: are out of profile). MPEG2 and 2.5 share the low-rate table.
_MP3_KBPS_V1 = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_KBPS_V2 = (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
_MP3_SR = {
    "1": (44100, 48000, 32000),
    "2": (22050, 24000, 16000),
    "2.5": (11025, 12000, 8000),
}
_MP3_VERSION_BITS = {0b00: "2.5", 0b10: "2", 0b11: "1"}


def mp3_frame_length(version: str, kbps: int, sr: int, padding: int) -> int:
    """Layer III frame length in bytes: floor(coef·bitrate/samplerate) +
    padding, coef 144000 for MPEG1 and 72000 for MPEG2/2.5 (per-frame
    samples halve, so the byte coefficient does too)."""
    coef = 144000 if version == "1" else 72000
    return coef * kbps // sr + padding


def encode_mp3_stream(frames, id3v2: bytes | None = None, id3v1: bool = False) -> bytes:
    """Write a spec-valid Layer III frame chain: ``frames`` is a list of
    (version '1'|'2'|'2.5', bitrate_index 1..14, samplerate_index 0..2,
    padding 0|1); payloads are zero bytes (any MP3 tool parses the
    framing; actual audio would need an encoder). Optional ID3v2 prefix
    (10-byte header + syncsafe-sized body) and ID3v1 128-byte trailer."""
    out = bytearray()
    if id3v2 is not None:
        sz = len(id3v2)
        ss = bytes(
            ((sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F)
        )
        out += b"ID3\x04\x00\x00" + ss + id3v2
    vbits = {v: k for k, v in _MP3_VERSION_BITS.items()}
    for version, bidx, sidx, pad in frames:
        kbps = (_MP3_KBPS_V1 if version == "1" else _MP3_KBPS_V2)[bidx - 1]
        sr = _MP3_SR[version][sidx]
        n = mp3_frame_length(version, kbps, sr, pad)
        h0 = 0xFF
        h1 = 0xE0 | (vbits[version] << 3) | (0b01 << 1) | 1  # layer III, no CRC
        h2 = (bidx << 4) | (sidx << 2) | (pad << 1)
        h3 = 0b11000100  # mono, no emphasis flags that matter here
        out += bytes((h0, h1, h2, h3)) + b"\x00" * (n - 4)
    if id3v1:
        out += b"TAG" + b"\x00" * 125
    return bytes(out)


def parse_mp3_frames(b: bytes | None):
    """Walk an MPEG Layer III frame chain: returns (version, samplerate,
    n_frames, total_samples, audio_bytes, kbps_sum) or None outside the
    profile. Skips a leading ID3v2 (syncsafe size) and a trailing ID3v1
    'TAG' block; every frame must carry the SAME version and samplerate
    (a stream that changes either mid-file is out of profile, as are
    free/bad bitrate indexes, reserved version/samplerate codes, layers
    other than III, and any byte gap between frames — resyncing past
    garbage hides truncation, so this walker refuses instead).
    total_samples = n_frames × (1152 MPEG1 / 576 MPEG2,2.5); duration =
    total_samples / samplerate, left to the caller as an exact pair."""
    if not b or len(b) < 4:
        return None
    i, n = 0, len(b)
    if b[:3] == b"ID3":
        if n < 10:
            return None
        sz = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
        if any(x & 0x80 for x in b[6:10]):
            return None
        i = 10 + sz
    end = n
    if end - i >= 128 and b[end - 128 : end - 125] == b"TAG":
        end -= 128
    version = sr = None
    frames = 0
    kbps_sum = 0
    audio_start = i
    while i < end:
        if i + 4 > end or b[i] != 0xFF or (b[i + 1] & 0xE0) != 0xE0:
            return None
        vb = (b[i + 1] >> 3) & 0b11
        layer = (b[i + 1] >> 1) & 0b11
        if vb not in _MP3_VERSION_BITS or layer != 0b01:
            return None
        v = _MP3_VERSION_BITS[vb]
        bidx = (b[i + 2] >> 4) & 0x0F
        sidx = (b[i + 2] >> 2) & 0b11
        pad = (b[i + 2] >> 1) & 1
        if not 1 <= bidx <= 14 or sidx > 2:
            return None
        this_sr = _MP3_SR[v][sidx]
        if version is None:
            version, sr = v, this_sr
        elif v != version or this_sr != sr:
            return None
        kbps = (_MP3_KBPS_V1 if v == "1" else _MP3_KBPS_V2)[bidx - 1]
        flen = mp3_frame_length(v, kbps, sr, pad)
        if i + flen > end:
            return None  # truncated final frame
        frames += 1
        kbps_sum += kbps
        i += flen
    if frames == 0:
        return None
    spf = 1152 if version == "1" else 576
    return (version, sr, frames, frames * spf, end - audio_start, kbps_sum)


MP3_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mpeg_version", StringType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("total_samples", LongType(), True),
        StructField("audio_bytes", LongType(), True),
        StructField("avg_kbps", DoubleType(), True),
        StructField("duration_sec", DoubleType(), True),
    ]
)


def extract_mp3_meta(df: DataFrame) -> DataFrame:
    """Distributed MP3 frame-chain metadata: per payload the version,
    sample rate, frame/sample/byte counts, mean bitrate and duration
    (each a single double division over exact integers). Out-of-profile
    payloads yield NULL rows (voided whole)."""

    def per_item(b):
        got = parse_mp3_frames(b)
        if got is None:
            return None
        v, sr, nf, samples, abytes, kbps_sum = got
        return [(v, sr, nf, samples, abytes, kbps_sum / nf, samples / sr)]

    return _map_payloads(df, MP3_META_SCHEMA, per_item)


def encode_flac_header(
    sample_rate: int,
    channels: int,
    bits: int,
    total_samples: int,
    audio_md5: bytes,
    extra_blocks: int = 0,
) -> bytes:
    """Write a spec-valid FLAC header: fLaC magic + STREAMINFO (RFC 9639
    §8.2: blocksize/framesize bounds, then the packed
    rate/channels/bits/samples bitfield, then the 16-byte raw-audio
    md5) + ``extra_blocks`` PADDING blocks; the last block carries the
    last-metadata flag. Frame data is omitted — the header is the
    metadata layer; audio decode is the documented seam."""
    if len(audio_md5) != 16:
        raise ValueError("audio_md5 must be 16 bytes")
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits - 1) << 36)
        | total_samples
    )
    info = (
        struct.pack(">HH", 4096, 4096)
        + (0).to_bytes(3, "big") * 2
        + packed.to_bytes(8, "big")
        + audio_md5
    )
    out = bytearray(b"fLaC")
    last = 0x80 if extra_blocks == 0 else 0x00
    out += bytes((last | 0,)) + len(info).to_bytes(3, "big") + info
    for k in range(extra_blocks):
        last = 0x80 if k == extra_blocks - 1 else 0x00
        pad = bytes(8 + k)
        out += bytes((last | 1,)) + len(pad).to_bytes(3, "big") + pad
    return bytes(out)


def parse_flac_streaminfo(b: bytes | None):
    """Parse a FLAC header's metadata chain: returns (sample_rate,
    channels, bits_per_sample, total_samples, audio_md5_hex, n_blocks)
    or None outside the profile (missing magic, first block not
    STREAMINFO or wrong length — both spec requirements — short reads,
    or a chain that never sets the last-metadata flag)."""
    if not b or b[:4] != b"fLaC" or len(b) < 4 + 4 + 34:
        return None
    i, n = 4, len(b)
    first = True
    info = None
    blocks = 0
    while True:
        if i + 4 > n:
            return None
        head = b[i]
        btype, last = head & 0x7F, head & 0x80
        ln = int.from_bytes(b[i + 1 : i + 4], "big")
        body = b[i + 4 : i + 4 + ln]
        if len(body) != ln:
            return None
        if first:
            if btype != 0 or ln != 34:
                return None  # spec: STREAMINFO must come first, 34 bytes
            info = body
            first = False
        blocks += 1
        i += 4 + ln
        if last:
            break
    packed = int.from_bytes(info[10:18], "big")
    rate = packed >> 44
    channels = ((packed >> 41) & 0x07) + 1
    bits = ((packed >> 36) & 0x1F) + 1
    samples = packed & ((1 << 36) - 1)
    if rate == 0:
        return None
    return (rate, channels, bits, samples, info[18:34].hex(), blocks)


FLAC_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("bits_per_sample", IntegerType(), True),
        StructField("total_samples", LongType(), True),
        StructField("audio_md5", StringType(), True),
        StructField("n_blocks", IntegerType(), True),
        StructField("duration_sec", DoubleType(), True),
    ]
)


def extract_flac_meta(df: DataFrame) -> DataFrame:
    """Distributed FLAC STREAMINFO metadata: rate/channels/bits/samples,
    the container's own raw-audio md5 (the integrity anchor a corpus
    can verify after any future transcode), metadata block count, and
    duration (one double division). NULL rows for out-of-profile
    payloads."""

    def per_item(b):
        got = parse_flac_streaminfo(b)
        if got is None:
            return None
        rate, ch, bits, samples, md5hex, blocks = got
        return [(rate, ch, bits, samples, md5hex, blocks, samples / rate)]

    return _map_payloads(df, FLAC_META_SCHEMA, per_item)
