"""Multimodal metadata query: the driver-checkable row for the media
operators (operators/multimodal.py).

The image/audio/video payloads are synthesized IN-QUERY as deterministic
container bytes (real PNG/GIF/JPEG/WAV/MP4 layouts, parameterized per
media_id), so the REAL header decoders — ``parse_image_header`` /
``parse_wav_header`` / ``parse_mp4_header`` via their Arrow-batched
``mapInPandas`` wrappers — run distributed over executors, and the oracle
can independently restate the expected metadata from the generation
formulas (the same verdict-row pattern as ``ivf_topk_recall`` /
``stream_batch_equivalence``: the SQL derives what the decode must
produce, so any regression in the byte-level parsers or the mapInPandas
plumbing breaks the hash-match).

Pixel-level decode is REAL for PNG at all three alpha-free color types
(``image_pixel_stats``: truecolor; ``png_typed_pixel_stats``: indexed +
grayscale at bpp=1 filter displacement; zlib + scanline un-filtering,
formula-derived oracles), for GIF
(``gif_pixel_stats``: variable-width LZW + palette + interlace de-weave,
riding the ``decoder=`` seam through the PNG stats operator), for baseline grayscale
JPEG (``jpeg_pixel_stats``: real huffman+DPCM entropy decode + IDCT),
for baseline COLOR JPEG at all three common samplings — 4:4:4
(``jpeg_color_pixel_stats``: interleaved three-component decode + CCIR
601 inverse transform), MCU-interleaved 4:2:0
(``jpeg_420_pixel_stats``: four-Y-block MCUs + pinned 2x2 replication
chroma upsample), and 4:2:2 (``jpeg_422_pixel_stats``: two-Y-block
MCUs + column-replication upsample) — and for MJPEG
video frames (``video_frame_stats``: ISO-BMFF sample-table walk +
per-frame JPEG decode); sample-level decode AND resampling are REAL for
PCM WAV (``audio_pcm_stats``, ``audio_resample_stats``: frame-wise box
downsample at rate//2) and for G.711 telephony audio
(``audio_g711_stats``: u-law/A-law expansion, every table entry under
the hash) plus 8-bit unsigned PCM (unit-pinned full-scale expansion); DRI/RSTn restart-interval JPEG streams are in
profile (r10) and ride the ``jpeg_420_pixel_stats`` /
``jpeg_422_pixel_stats`` oracles; PROGRESSIVE (SOF2) decode is real too
(``jpeg_progressive_pixel_stats``: multi-scan Annex-G coefficient
accumulation), and the sampling gate covers EVERY Y-subsampled layout
(``jpeg_sampling_pixel_stats``: 4:4:0 + 4:1:1 oracled; the full matrix
dense-pinned in unit tests). The remaining documented seam:
subsampled-chroma layouts, arithmetic/hierarchical JPEG,
inter-frame video codecs, perceptual compressed audio (MP3/AAC/Opus).
Everything else
checked here — container walking, dimension/rate/duration extraction,
frame-sampling arithmetic, Arrow batch shapes, null propagation — is the
real distributed path.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..checkpointing import stage_checkpoint
from ..streaming.idempotent import compact_epochs, epoch_read, epoch_write
from ..operators.multimodal import (
    MEDIA_SCHEMA,
    extract_audio_meta,
    extract_media_dimensions,
    sample_frames,
)
from .registry import query

_N_PER_KIND = 8


def _media_frame(spark: SparkSession, rows) -> DataFrame:
    """Fixture rows as a MEDIA_SCHEMA frame hash-spread over 4 partitions
    by media_id, so every extractor runs across several Arrow batches."""
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(4, "media_id")


def _blocks(a, h: int, w: int):
    """Per-8x8-block values expanded to an (h, w) uint8 plane, cropped:
    the constant-block JPEG fixtures whose decode is bit-exact (see the
    JPEG section of operators/multimodal.py)."""
    import numpy as np

    return np.kron(a, np.ones((8, 8), np.uint8))[:h, :w]


def _png(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + b"\x00\x00\x00\x0d"
        + b"IHDR"
        + struct.pack(">II", w, h)
        + b"\x08\x02\x00\x00\x00"
        + b"\x00\x00\x00\x00"  # CRC (unchecked by header parse)
    )


def _gif(w: int, h: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"


def _jpeg(w: int, h: int, progressive: bool) -> bytes:
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof_marker = b"\xff\xc2" if progressive else b"\xff\xc0"
    sof = sof_marker + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", h, w) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof


def _wav(channels: int, rate: int, bits: int, data_bytes: int) -> bytes:
    """Canonical RIFF/WAVE with a declared-size data chunk (the parser
    reads sizes, not samples, so the payload stays tiny)."""
    fmt = (
        b"fmt "
        + struct.pack("<I", 16)
        + struct.pack(
            "<HHIIHH", 1, channels, rate, rate * channels * (bits // 8), channels * (bits // 8), bits
        )
    )
    data = b"data" + struct.pack("<I", data_bytes)
    body = b"WAVE" + fmt + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _tiff(w: int, h: int, order: str) -> bytes:
    """Header-only TIFF (IFD with just the two dimension tags); the
    sniff walks tags 256/257, no pixel strips needed."""
    e = "<" if order == "II" else ">"
    ifd = struct.pack(e + "H", 2)
    ifd += struct.pack(e + "HHI", 256, 4, 1) + struct.pack(e + "I", w)
    ifd += struct.pack(e + "HHI", 257, 4, 1) + struct.pack(e + "I", h)
    ifd += struct.pack(e + "I", 0)
    return order.encode() + struct.pack(e + "HI", 42, 8) + ifd


def _bmp(w: int, h: int, top_down: bool) -> bytes:
    """Header-only BMP (BITMAPINFOHEADER; negative height = top-down);
    the dimension sniff reads offsets 18/22, no pixel rows needed."""
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24, 0, 0, 2835, 2835, 0, 0
    )
    return struct.pack("<2sIHHI", b"BM", 14 + 40, 0, 0, 14 + 40) + info


def _mp4(timescale: int, duration: int) -> bytes:
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00\x00\x02\x00"
    mvhd_payload = (
        b"\x00" + b"\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # ctime, mtime
        + struct.pack(">II", timescale, duration)
        + b"\x00\x00\x00\x00"  # pad so payload+24 is in-bounds
    )
    mvhd = struct.pack(">I", 8 + len(mvhd_payload)) + b"mvhd" + mvhd_payload
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    return ftyp + moov


def _synthesize_media_rows() -> list[tuple]:
    """Deterministic corpus: 8 media per kind; every parameter is a closed
    formula of the index so the oracle restates it in SQL."""
    rows: list[tuple] = []

    def add(media_id: int, payload: bytes, mime: str) -> None:
        rows.append((media_id, payload, mime, len(payload), None))

    for i in range(_N_PER_KIND):
        add(i, _png(16 + 3 * i, 9 + 2 * i), "image/png")
        add(100 + i, _jpeg(320 + 10 * i, 200 + 5 * i, progressive=i % 2 == 1), "image/jpeg")
        add(200 + i, _gif(64 + i, 32 + i), "image/gif")
        ch, rate = 1 + (i % 2), 8000 + 1000 * (i % 3)
        dur_ms = 1500 + 250 * i
        add(300 + i, _wav(ch, rate, 16, rate * ch * 2 * dur_ms // 1000), "audio/wav")
        add(400 + i, _mp4(1000, 1500 + 250 * i), "video/mp4")
        add(500 + i, _bmp(30 + 3 * i, 22 + 2 * i, top_down=bool(i % 2)), "image/bmp")
        add(600 + i, _tiff(26 + 3 * i, 17 + 2 * i, "II" if i % 2 == 0 else "MM"), "image/tiff")
    return rows


# The oracle derives every expected value from the same index formulas the
# generator uses — wholly independent of the byte-level parsing under test.
# n_frames: duration_sec = 1.5 + 0.25*i, fps = 2 → int(duration*fps) + 1
# = 4 + i//2 (cap 32 never binds at these durations).
MULTIMODAL_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i)
SELECT * FROM (
  SELECT CAST(i AS BIGINT) AS media_id, 'png' AS kind, 'png' AS format,
         CAST(16 + 3*i AS INTEGER) AS width, CAST(9 + 2*i AS INTEGER) AS height,
         CAST(NULL AS INTEGER) AS channels, CAST(NULL AS INTEGER) AS sample_rate,
         CAST(NULL AS BIGINT) AS duration_ms, CAST(NULL AS INTEGER) AS n_frames
  FROM idx
  UNION ALL
  SELECT CAST(100 + i AS BIGINT), 'jpeg', 'jpeg',
         CAST(320 + 10*i AS INTEGER), CAST(200 + 5*i AS INTEGER),
         NULL, NULL, NULL, NULL
  FROM idx
  UNION ALL
  SELECT CAST(200 + i AS BIGINT), 'gif', 'gif',
         CAST(64 + i AS INTEGER), CAST(32 + i AS INTEGER),
         NULL, NULL, NULL, NULL
  FROM idx
  UNION ALL
  SELECT CAST(300 + i AS BIGINT), 'wav', NULL, NULL, NULL,
         CAST(1 + (i % 2) AS INTEGER), CAST(8000 + 1000*(i % 3) AS INTEGER),
         CAST(1500 + 250*i AS BIGINT), NULL
  FROM idx
  UNION ALL
  SELECT CAST(400 + i AS BIGINT), 'mp4', NULL, NULL, NULL,
         NULL, NULL, NULL, CAST(4 + i // 2 AS INTEGER)
  FROM idx
  UNION ALL
  SELECT CAST(500 + i AS BIGINT), 'bmp', 'bmp',
         CAST(30 + 3*i AS INTEGER), CAST(22 + 2*i AS INTEGER),
         NULL, NULL, NULL, NULL
  FROM idx
  UNION ALL
  SELECT CAST(600 + i AS BIGINT), 'tiff', 'tiff',
         CAST(26 + 3*i AS INTEGER), CAST(17 + 2*i AS INTEGER),
         NULL, NULL, NULL, NULL
  FROM idx
)
ORDER BY media_id
"""


@query("multimodal_meta", survey="llm-multimodal,X6", oracle=MULTIMODAL_ORACLE)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified media-metadata extraction over all seven container kinds.

    One row per synthesized medium: images report (format, width, height)
    from the header decode, WAVs report (channels, sample_rate,
    duration_ms) from the RIFF walk, MP4s report the sampled frame count
    (fps=2 over the mvhd duration). All three extraction paths are
    Arrow-batched mapInPandas over the shared MEDIA_SCHEMA.
    """
    media = _media_frame(spark, _synthesize_media_rows())

    dims = extract_media_dimensions(media).select("media_id", "format", "width", "height")
    audio = extract_audio_meta(media).select(
        "media_id",
        "channels",
        "sample_rate",
        F.round(F.col("duration_sec").cast("double") * 1000, 0).cast("long").alias("duration_ms"),
    )
    frames = (
        sample_frames(media, fps=2.0, max_frames=32)
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_frames"))
    )

    kind = (
        F.when(F.col("media_id") < 100, "png")
        .when(F.col("media_id") < 200, "jpeg")
        .when(F.col("media_id") < 300, "gif")
        .when(F.col("media_id") < 400, "wav")
        .when(F.col("media_id") < 500, "mp4")
        .when(F.col("media_id") < 600, "bmp")
        .otherwise("tiff")
    )
    return (
        dims.join(audio, "media_id")
        .join(frames, "media_id", "left")
        .select(
            "media_id",
            kind.alias("kind"),
            "format",
            "width",
            "height",
            "channels",
            "sample_rate",
            "duration_ms",
            "n_frames",
        )
        .orderBy("media_id")
    )


# Pixel-stats oracle: restates the pixel-generation formulas in SQL —
# fully independent of the byte-level codec under test (signature walk,
# zlib inflate, all five scanline un-filters). The generator cycles the
# filter type per row (y % 5), so every image exercises every filter path;
# any regression anywhere in the decode chain shifts a channel sum and
# breaks the hash-match.
PIXEL_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 16 + 3*i AS w, 9 + 2*i AS h FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         (7*d.i + 3*ux.x + 5*uy.y) % 256 AS r,
         (11*d.i + 2*ux.x + uy.y) % 256 AS g,
         (13*d.i + ux.x + 4*uy.y) % 256 AS b
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
)
SELECT CAST(i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM px GROUP BY i, w, h ORDER BY media_id
"""


@query("image_pixel_stats", survey="llm-multimodal,X6", oracle=PIXEL_STATS_ORACLE)
def image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel-level PNG decode, distributed: per-image channel sums and
    means via ``extract_pixel_stats`` (zlib inflate + all-five-filter
    scanline reconstruction inside Arrow-batched mapInPandas — no codec
    library; PNG's pixel layer is pure zlib + byte filters, unlike
    JPEG/MP4 whose entropy coders stay behind the documented seam).

    The 8 fixture PNGs are synthesized driver-side from closed pixel
    formulas (tiny, kilobytes — the same fixture discipline as
    ``multimodal_meta``), with the scanline filter type cycling 0..4 by
    row so every un-filter path runs on every image. In production the
    payload column arrives from the media table and the decode runs where
    the data lives; only the per-image stat row ever leaves an executor —
    output is O(images), independent of resolution.
    """
    import numpy as np

    from ..operators.multimodal import encode_png_rgb, extract_pixel_stats

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 16 + 3 * i, 9 + 2 * i
        y, x = np.mgrid[0:h, 0:w]
        px = np.stack(
            [
                (7 * i + 3 * x + 5 * y) % 256,
                (11 * i + 2 * x + y) % 256,
                (13 * i + x + 4 * y) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        payload = encode_png_rgb(px)  # filter type cycles 0..4 per row
        rows.append((i, payload, "image/png", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media).orderBy("media_id")


# Waveform-stats oracle: the audio twin of PIXEL_STATS_ORACLE — restates
# the PCM sample-generation formula in SQL, independent of the RIFF walk /
# frombuffer decode under test. The multiplier 7919 is odd, so
# (7919·x) mod 65536 == 0 only at x == 0: sample value -32768 occurs
# exactly once (media 0, sample 0), pinning the int64-before-abs
# discipline in the operator (|−32768| overflows int16).
AUDIO_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS k),
dims AS (
  SELECT k, 1 + (k % 2) AS channels, 8000 + 1000*(k % 3) AS rate,
         (800 + 100*k) * (1 + (k % 2)) AS n_samples
  FROM idx
),
s AS (
  SELECT d.k, d.channels, d.rate, d.n_samples,
         ((7919 * (u.i + 13*d.k)) % 65536) - 32768 AS v
  FROM dims d, LATERAL (SELECT unnest(range(d.n_samples)) AS i) u
)
SELECT CAST(k AS BIGINT) AS media_id,
       CAST(channels AS INTEGER) AS channels,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(MAX(ABS(v)) AS INTEGER) AS peak,
       SQRT(CAST(SUM(v * v) AS DOUBLE) / n_samples) AS rms
FROM s GROUP BY k, channels, rate, n_samples ORDER BY media_id
"""


@query("audio_pcm_stats", survey="llm-multimodal,X6", oracle=AUDIO_STATS_ORACLE)
def audio_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL sample-level PCM decode, distributed: per-file waveform energy
    / magnitude / peak / RMS via ``extract_audio_stats`` (RIFF chunk walk
    + raw int16 sample reconstruction inside Arrow-batched mapInPandas —
    16-bit PCM has no entropy coder, so no codec library is needed; the
    audio twin of ``image_pixel_stats``).

    The 8 fixture WAVs are synthesized driver-side from a closed sample
    formula (mono/stereo alternating, three sample rates); the oracle
    restates the formula. In production the payload column arrives from
    the media table and the decode runs where the data lives; only the
    per-file stat row leaves an executor.
    """
    import numpy as np

    from ..operators.multimodal import encode_wav_pcm, extract_audio_stats

    rows = []
    for k in range(_N_PER_KIND):
        channels = 1 + (k % 2)
        rate = 8000 + 1000 * (k % 3)
        n_samples = (800 + 100 * k) * channels
        i = np.arange(n_samples, dtype=np.int64)
        v = ((7919 * (i + 13 * k)) % 65536 - 32768).astype(np.int16)
        payload = encode_wav_pcm(v, rate, channels)
        rows.append((k, payload, "audio/wav", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_audio_stats(media).orderBy("media_id")


# Resize oracle: restates the box-downsample block math in SQL — pixels
# group into factor×factor blocks (ragged right/bottom edges keep their
# actual size), each block becomes floor(sum/count) per channel, and the
# stats aggregate the DOWNSAMPLED image. The Spark side runs the full
# decode → resize → re-encode → decode chain, so the hash-match certifies
# the resampler AND both codec directions end to end.
RESIZE_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 16 + 3*i AS w, 9 + 2*i AS h FROM idx),
px AS (
  SELECT d.i, d.w, d.h, ux.x, uy.y,
         (7*d.i + 3*ux.x + 5*uy.y) % 256 AS r,
         (11*d.i + 2*ux.x + uy.y) % 256 AS g,
         (13*d.i + ux.x + 4*uy.y) % 256 AS b
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
),
blocks AS (
  SELECT i, x // 2 AS bx, y // 2 AS by,
         SUM(r) // COUNT(*) AS br,
         SUM(g) // COUNT(*) AS bg,
         SUM(b) // COUNT(*) AS bb
  FROM px GROUP BY i, x // 2, y // 2
),
d2 AS (SELECT i, (w + 1) // 2 AS w2, (h + 1) // 2 AS h2 FROM dims)
SELECT CAST(i AS BIGINT) AS media_id,
       CAST(w2 AS INTEGER) AS width,
       CAST(h2 AS INTEGER) AS height,
       CAST(w2 * h2 AS BIGINT) AS n_px,
       CAST(SUM(br) AS BIGINT) AS sum_r,
       CAST(SUM(bg) AS BIGINT) AS sum_g,
       CAST(SUM(bb) AS BIGINT) AS sum_b,
       CAST(SUM(br) AS DOUBLE) / (w2 * h2) AS mean_r,
       CAST(SUM(bg) AS DOUBLE) / (w2 * h2) AS mean_g,
       CAST(SUM(bb) AS DOUBLE) / (w2 * h2) AS mean_b
FROM blocks JOIN d2 USING (i)
GROUP BY i, w2, h2 ORDER BY media_id
"""


@query("image_resize_stats", survey="llm-multimodal,X6", oracle=RESIZE_STATS_ORACLE)
def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel resize, end to end: the same eight formula PNGs as
    ``image_pixel_stats`` flow through ``resize_image_payloads`` (decode →
    2× box-downsample with floor-integer block means → re-encode) and the
    resized payloads are decoded AGAIN by ``extract_pixel_stats`` — the
    oracle restates the block arithmetic from the pixel formulas, so one
    hash-match certifies the resampler and both codec directions. The
    fixture widths/heights are odd for most ids, so ragged edge blocks
    (right column / bottom row smaller than 2×2) are exercised on every
    image.
    """
    import numpy as np

    from ..operators.multimodal import (
        encode_png_rgb,
        extract_pixel_stats,
        resize_image_payloads,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 16 + 3 * i, 9 + 2 * i
        y, x = np.mgrid[0:h, 0:w]
        px = np.stack(
            [
                (7 * i + 3 * x + 5 * y) % 256,
                (11 * i + 2 * x + y) % 256,
                (13 * i + x + 4 * y) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        rows.append((i, encode_png_rgb(px), "image/png", 0, None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(resize_image_payloads(media, factor=2)).orderBy(
        "media_id"
    )


# JPEG pixel-stats oracle: restates the block-value formula in SQL —
# independent of everything under test (marker walk, DHT canonical-code
# build, huffman+DPCM entropy decode, dequant, IDCT, padding crop). Block
# values are even constants, so the decode is bit-exact by the codec's
# documented contract (operators/multimodal.py, JPEG section): the
# quantized spectrum of an even-constant block is a lone DC coefficient
# and survives the float DCT/IDCT + rint round trip exactly. Image
# dimensions are NOT multiples of 8, so the edge-replication pad and the
# decoder's crop are on the oracled path; block values vary per block, so
# the DC DPCM codes span positive/negative diffs of many bit-sizes.
JPEG_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 29 + 3*i AS w, 21 + 2*i AS h FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         8 + 2*((7*d.i + 3*(ux.x // 8) + 5*(uy.y // 8)) % 120) AS v
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
)
SELECT CAST(100 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(MIN(v) AS INTEGER) AS min_v,
       CAST(MAX(v) AS INTEGER) AS max_v,
       CAST(SUM(v) AS DOUBLE) / (w * h) AS mean_v
FROM px GROUP BY i, w, h ORDER BY media_id
"""


@query("jpeg_pixel_stats", survey="llm-multimodal,X6", oracle=JPEG_STATS_ORACLE)
def jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL entropy-level JPEG decode, distributed: per-image luminance
    stats via ``extract_jpeg_stats`` — baseline huffman + DPCM coefficient
    decode, dequantization, and IDCT inside Arrow-batched mapInPandas, no
    codec library (the still-image half of the former "entropy-coder
    seam"; see the codec section in operators/multimodal.py for the
    profile and the exactness contract the oracle leans on).

    The 8 fixture JPEGs are synthesized driver-side with per-8x8-block
    constant values from a closed formula (even levels -> bit-exact
    decode), at dimensions that are never multiples of 8 so the pad/crop
    path runs on every image. In production the payload column arrives
    from the media table and the decode runs where the data lives; only
    the per-image stat row leaves an executor.
    """
    import numpy as np

    from ..operators.multimodal import encode_jpeg_gray, extract_jpeg_stats

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 29 + 3 * i, 21 + 2 * i
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        by, bx = np.mgrid[0:nby, 0:nbx]
        bv = (8 + 2 * ((7 * i + 3 * bx + 5 * by) % 120)).astype(np.uint8)
        px = _blocks(bv, h, w)
        rows.append((100 + i, encode_jpeg_gray(px), "image/jpeg", 0, None))
    media = _media_frame(spark, rows)
    return extract_jpeg_stats(media).orderBy("media_id")


# Video frame-stats oracle: restates the per-frame block formula in SQL,
# independent of the whole chain under test — ISO-BMFF box walk, stsc/stsz/
# stco sample-location arithmetic, per-sample mdat slicing, and the
# baseline JPEG decode of every frame. Frame counts vary per video (3+i),
# so the stsz lists and mdat layouts all differ.
VIDEO_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
vids AS (SELECT i, 3 + i AS n_frames, 29 + 3*(i % 4) AS w, 21 + 2*(i % 4) AS h FROM idx),
px AS (
  SELECT v.i, v.n_frames, v.w, v.h,
         8 + 2*((7*v.i + 11*uf.f + 3*(ux.x // 8) + 5*(uy.y // 8)) % 120) AS val
  FROM vids v,
       LATERAL (SELECT unnest(range(v.n_frames)) AS f) uf,
       LATERAL (SELECT unnest(range(v.w)) AS x) ux,
       LATERAL (SELECT unnest(range(v.h)) AS y) uy
)
SELECT CAST(400 + i AS BIGINT) AS media_id,
       CAST(n_frames AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(n_frames * w * h AS BIGINT) AS n_px,
       CAST(SUM(val) AS BIGINT) AS sum_v,
       CAST(MIN(val) AS INTEGER) AS min_v,
       CAST(MAX(val) AS INTEGER) AS max_v,
       CAST(SUM(val) AS DOUBLE) / (n_frames * w * h) AS mean_v
FROM px GROUP BY i, n_frames, w, h ORDER BY media_id
"""


@query("video_frame_stats", survey="llm-multimodal,X6", oracle=VIDEO_STATS_ORACLE)
def video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame-pixel decode, distributed: per-video luminance
    stats across every frame via ``extract_video_frame_stats`` — the
    ISO-BMFF sample-table walk (stsd/stts/stsc/stsz/stco) locates each
    MJPEG sample inside mdat, and the baseline JPEG codec reconstructs its
    pixels, all inside Arrow-batched mapInPandas (the video half of the
    former "entropy-coder seam"; inter-frame codecs remain documented out
    of profile).

    The 8 fixture videos are synthesized driver-side (3..10 frames each,
    per-frame per-block constant-value formula, even levels -> bit-exact
    frame decode); the oracle restates the formula over (frame, x, y). In
    production the payload column arrives from the media table; only the
    per-video stat row leaves an executor, never frames.
    """
    import numpy as np

    from ..operators.multimodal import (
        build_mp4_mjpeg,
        encode_jpeg_gray,
        extract_video_frame_stats,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 29 + 3 * (i % 4), 21 + 2 * (i % 4)
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        frames = []
        for f in range(3 + i):
            by, bx = np.mgrid[0:nby, 0:nbx]
            bv = (8 + 2 * ((7 * i + 11 * f + 3 * bx + 5 * by) % 120)).astype(np.uint8)
            frames.append(encode_jpeg_gray(_blocks(bv, h, w)))
        # odd fixtures store chunk offsets as 64-bit co64 (the >4 GB muxer
        # layout) — identical frames, so the same hash covers both tables
        rows.append(
            (400 + i, build_mp4_mjpeg(frames, use_co64=bool(i % 2)), "video/mp4", 0, None)
        )
    media = _media_frame(spark, rows)
    return extract_video_frame_stats(media).orderBy("media_id")


# Color-JPEG pixel-stats oracle: restates the per-block YCbCr plane
# formulas AND the decoder's CCIR 601 inverse transform in SQL —
# independent of everything under test (the interleaved 3-component
# entropy decode with per-component predictors/tables, chroma DQT/DHT
# load, dequant, IDCT, color matrix). Plane constants are chosen for
# bit-exact transform round-trips per component: Y levels are EVEN
# (luma DC quant 16: 8*d/16 = d/2 exact), chroma levels are 128 + 17*t
# (chroma DC quant 17: 8*17t/17 = 8t exact), so the decoded planes equal
# the formulas exactly and the only arithmetic the oracle must mirror is
# the color matrix — pinned to floor(x+0.5) in both (e0 literals keep
# DuckDB in DOUBLE, not DECIMAL). Chroma swings push R/G/B past both
# clip rails on several blocks, so the LEAST/GREATEST path is exercised.
JPEG_COLOR_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 29 + 3*i AS w, 21 + 2*i AS h FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         CAST(8 + 2*((7*d.i + 3*(ux.x // 8) + 5*(uy.y // 8)) % 120) AS DOUBLE) AS yv,
         17.0e0 * (((11*d.i + (ux.x // 8) + 2*(uy.y // 8)) % 15) - 7) AS cbd,
         17.0e0 * (((13*d.i + 2*(ux.x // 8) + (uy.y // 8)) % 15) - 7) AS crd
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
),
rgb AS (
  SELECT i, w, h,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv + 1.402e0*crd + 0.5e0))) AS r,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv - 0.344136e0*cbd - 0.714136e0*crd + 0.5e0))) AS g,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv + 1.772e0*cbd + 0.5e0))) AS b
  FROM px
)
SELECT CAST(500 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h ORDER BY media_id
"""


@query("jpeg_color_pixel_stats", survey="llm-multimodal,X6", oracle=JPEG_COLOR_STATS_ORACLE)
def jpeg_color_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL entropy-level COLOR JPEG decode, distributed: per-image RGB
    channel stats via ``extract_pixel_stats`` over ``decode_jpeg_rgb`` —
    baseline 4:4:4
    three-component interleaved huffman + DPCM decode (per-component
    predictors, Annex-K luma AND chroma table sets), dequantization,
    IDCT, and the CCIR 601 inverse color transform inside Arrow-batched
    mapInPandas, no codec library. Closes the r8 verdict's color seam:
    the grayscale machinery ran per-component three ways plus one affine
    matrix (4:2:0/4:2:2 and progressive later joined the profile in r10;
    exotic mixes stay documented out of profile -> NULL, never a crash).

    The 8 fixture JPEGs are synthesized driver-side as per-8x8-block
    constant YCbCr planes from closed formulas whose levels make every
    component's transform round-trip bit-exact (even luma levels against
    DC quant 16; 128+17t chroma levels against DC quant 17), at
    dimensions never multiples of 8 so pad/crop runs on every image. The
    oracle restates the plane formulas and the color matrix; several
    blocks clip at both rails, so saturation is on the oracled path. In
    production the payload column arrives from the media table and only
    the per-image stat row leaves an executor.
    """
    import numpy as np

    from ..operators.multimodal import decode_jpeg_rgb, encode_jpeg_ycbcr, extract_pixel_stats

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 29 + 3 * i, 21 + 2 * i
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        by, bx = np.mgrid[0:nby, 0:nbx]
        yb = (8 + 2 * ((7 * i + 3 * bx + 5 * by) % 120)).astype(np.uint8)
        cbb = (128 + 17 * (((11 * i + bx + 2 * by) % 15) - 7)).astype(np.uint8)
        crb = (128 + 17 * (((13 * i + 2 * bx + by) % 15) - 7)).astype(np.uint8)

        planes = [_blocks(a, h, w) for a in (yb, cbb, crb)]
        rows.append((500 + i, encode_jpeg_ycbcr(*planes), "image/jpeg", 0, None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media, decoder=decode_jpeg_rgb).orderBy("media_id")


# Audio-resample oracle: the audio twin of RESIZE_STATS_ORACLE — samples
# regroup into per-channel windows of 2 FRAMES (f = i // channels,
# window = f // 2; a ragged final window keeps its actual frame count),
# each window becomes FLOOR(sum/count) — floor, not truncate-toward-zero,
# because PCM samples are signed and the operator pins floor division so
# negative sums divide identically in numpy and SQL — and the stats
# aggregate the DOWNSAMPLED waveform. The Spark side runs the full decode
# -> frame-box-downsample -> re-encode(rate//2) -> decode chain, so one
# hash-match certifies the resampler and both RIFF codec directions.
# A second branch runs the SAME waveforms at factor 3 (media_id 620+k,
# window = f // 3, rate // 3): a non-power-of-two factor whose ragged
# final windows carry 1 OR 2 frames (801+100k ≡ 0,1,2 (mod 3) across the
# fixtures), so the window arithmetic is oracled at a factor where
# "half the frames" intuitions and the shift-friendly factor-2 path
# would not catch an off-by-one.
AUDIO_RESAMPLE_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS k),
dims AS (
  SELECT k, 1 + (k % 2) AS channels, 8000 + 1000*(k % 3) AS rate,
         (801 + 100*k) * (1 + (k % 2)) AS n_samples
  FROM idx
),
facs AS (SELECT 600 AS base, 2 AS fac UNION ALL SELECT 620, 3),
s AS (
  SELECT d.k, d.channels, d.rate, fc.base, fc.fac,
         (u.i // d.channels) AS f, (u.i % d.channels) AS c,
         ((7919 * (u.i + 13*d.k)) % 65536) - 32768 AS v
  FROM dims d, facs fc, LATERAL (SELECT unnest(range(d.n_samples)) AS i) u
),
win AS (
  SELECT k, channels, rate, base, fac, c, f // fac AS w,
         CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS bv
  FROM s GROUP BY k, channels, rate, base, fac, c, f // fac
)
SELECT CAST(base + k AS BIGINT) AS media_id,
       CAST(channels AS INTEGER) AS channels,
       CAST(rate // fac AS INTEGER) AS sample_rate,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(bv * bv) AS BIGINT) AS sum_sq,
       CAST(SUM(ABS(bv)) AS BIGINT) AS sum_abs,
       CAST(MAX(ABS(bv)) AS INTEGER) AS peak,
       SQRT(CAST(SUM(bv * bv) AS DOUBLE) / COUNT(*)) AS rms
FROM win GROUP BY k, channels, rate, base, fac ORDER BY media_id
"""


@query("audio_resample_stats", survey="llm-multimodal,X6", oracle=AUDIO_RESAMPLE_ORACLE)
def audio_resample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL sample-rate downsample, end to end: the same eight formula
    WAVs as ``audio_pcm_stats`` flow through ``resample_wav_payloads``
    (decode -> 2x frame-wise box-downsample with floor-integer window
    means -> re-encode at rate//2) and the stats extractor then re-decodes
    the RESAMPLED payloads — the audio half of the resample story
    (``image_resize_stats`` is the image half), the normalization step a
    training pipeline runs on heterogeneous sample rates. The oracle
    restates the window arithmetic from the sample formula, so one
    hash-match certifies the resampler and both codec directions; odd
    frame counts exercise the ragged final window, stereo fixtures the
    per-channel framing, and negative samples the floor-division pin.
    A second branch (media_id 620+k) resamples the SAME waveforms at
    factor 3 — a non-power-of-two factor whose ragged tails carry 1 or 2
    frames across the fixtures — so the window arithmetic is oracled
    beyond the shift-friendly factor-2 case.
    """
    import numpy as np

    from ..operators.multimodal import (
        encode_wav_pcm,
        extract_audio_stats,
        resample_wav_payloads,
    )

    rows2, rows3 = [], []
    for k in range(_N_PER_KIND):
        channels = 1 + (k % 2)
        rate = 8000 + 1000 * (k % 3)
        n_samples = (801 + 100 * k) * channels  # ODD frame count: every
        # factor-2 fixture ends in a ragged 1-frame window (the
        # docstring's claim); against factor 3 the same counts run
        # 0/1/2 (mod 3), so BOTH ragged window sizes occur
        i = np.arange(n_samples, dtype=np.int64)
        v = ((7919 * (i + 13 * k)) % 65536 - 32768).astype(np.int16)
        payload = encode_wav_pcm(v, rate, channels)
        rows2.append((600 + k, payload, "audio/wav", len(payload), None))
        rows3.append((620 + k, payload, "audio/wav", len(payload), None))
    media2 = _media_frame(spark, rows2)
    media3 = _media_frame(spark, rows3)
    out2 = extract_audio_stats(resample_wav_payloads(media2, factor=2))
    out3 = extract_audio_stats(resample_wav_payloads(media3, factor=3))
    return out2.unionByName(out3).orderBy("media_id")


# 4:2:0 pixel-stats oracle: identical structure to JPEG_COLOR_STATS_ORACLE
# — the ONLY new arithmetic is the chroma index. At 4:2:0 each decoded
# chroma sample covers a 2x2 luma region and is upsampled by pixel
# REPLICATION (the decoder's pinned convention), and the fixture chroma is
# per-8x8-block constant on the SUBSAMPLED grid, so full-res pixel (x, y)
# reads chroma block ((x//2)//8, (y//2)//8) = (x//16, y//16) — the oracle
# swaps //8 for //16 in the chroma block index and everything else (plane
# level formulas, CCIR 601 matrix pinned to FLOOR(x+0.5), both clip rails)
# carries over verbatim. Every fixture height is odd, so the ragged
# ceil(h/2) chroma plane is on the oracled path; w=32 (i=1) puts an exact
# 16-multiple axis next to the pad/crop cases.
JPEG_420_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 29 + 3*i AS w, 21 + 2*i AS h FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         CAST(8 + 2*((7*d.i + 3*(ux.x // 8) + 5*(uy.y // 8)) % 120) AS DOUBLE) AS yv,
         17.0e0 * (((11*d.i + (ux.x // 16) + 2*(uy.y // 16)) % 15) - 7) AS cbd,
         17.0e0 * (((13*d.i + 2*(ux.x // 16) + (uy.y // 16)) % 15) - 7) AS crd
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
),
rgb AS (
  SELECT i, w, h,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv + 1.402e0*crd + 0.5e0))) AS r,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv - 0.344136e0*cbd - 0.714136e0*crd + 0.5e0))) AS g,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv + 1.772e0*cbd + 0.5e0))) AS b
  FROM px
)
SELECT CAST(700 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h ORDER BY media_id
"""


@query("jpeg_420_pixel_stats", survey="llm-multimodal,X6", oracle=JPEG_420_STATS_ORACLE)
def jpeg_420_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL entropy-level 4:2:0 COLOR JPEG decode, distributed — the
    dominant real-world chroma layout: each MCU covers 16x16 luma pixels
    and carries four Y blocks + one Cb + one Cr (T.81 A.2.3 raster), so
    this exercises the MCU-interleaved multi-block-per-component entropy
    path, the 16-aligned pad/crop geometry, and the pinned 2x2
    replication chroma upsample that ``jpeg_color_pixel_stats`` (4:4:4,
    one block per component per MCU) cannot reach. Runs inside
    Arrow-batched mapInPandas via ``extract_pixel_stats`` over
    ``decode_jpeg_rgb`` — the decoder is sampling-agnostic; the payload
    bytes select the path.

    Fixtures: full-res Y planes per-8x8-block constant at even levels,
    SUBSAMPLED chroma planes per-8x8-block constant at 128+17t on the
    ceil-half grid (every height odd -> ragged chroma plane on every
    image), encoded by ``encode_jpeg_ycbcr_420``. Both transform
    round-trips are bit-exact at those levels, so the oracle restates the
    plane formulas with the chroma block index at (x//16, y//16) — the
    replication upsample — plus the same clip-exercising CCIR 601 matrix
    as the 4:4:4 oracle. Odd fixtures additionally carry DRI/RSTn
    restart markers (T.81 E.1.4, in profile since r10) — same pixel
    math, so the one hash covers the restart path too. Unit twins:
    tests/test_multimodal.py test_jpeg_420_* / test_jpeg_dri_*."""
    import numpy as np

    from ..operators.multimodal import (
        decode_jpeg_rgb,
        encode_jpeg_ycbcr_420,
        extract_pixel_stats,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 29 + 3 * i, 21 + 2 * i
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        by, bx = np.mgrid[0:nby, 0:nbx]
        yb = (8 + 2 * ((7 * i + 3 * bx + 5 * by) % 120)).astype(np.uint8)
        ch, cw = (h + 1) // 2, (w + 1) // 2
        ncbx, ncby = (cw + 7) // 8, (ch + 7) // 8
        cby, cbx = np.mgrid[0:ncby, 0:ncbx]
        cbb = (128 + 17 * (((11 * i + cbx + 2 * cby) % 15) - 7)).astype(np.uint8)
        crb = (128 + 17 * (((13 * i + 2 * cbx + cby) % 15) - 7)).astype(np.uint8)

        # odd fixtures carry DRI/RSTn restart markers (r10: in profile —
        # predictor resets + modulo-8 sequence check); the pixel math and
        # therefore the oracle are IDENTICAL, so the hash-match certifies
        # the restart path against the marker-free twin formulas
        payload = encode_jpeg_ycbcr_420(
            _blocks(yb, h, w), _blocks(cbb, ch, cw), _blocks(crb, ch, cw),
            restart_interval=(2 if i % 2 else 0),
        )
        rows.append((700 + i, payload, "image/jpeg", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media, decoder=decode_jpeg_rgb).orderBy("media_id")


# 4:2:2 pixel-stats oracle: same structure as the 4:4:4/4:2:0 oracles —
# at 4:2:2 chroma is subsampled HORIZONTALLY only (each decoded chroma
# sample covers a 2x1 luma region, upsampled by column replication), and
# the fixture chroma is per-8x8-block constant on the (h, ceil(w/2))
# grid, so full-res pixel (x, y) reads chroma block
# ((x//2)//8, y//8) = (x//16, y//8): the chroma X index halves, the Y
# index does not. Everything else (plane formulas, FLOOR(x+0.5) CCIR 601
# matrix, both clip rails) carries over verbatim.
JPEG_422_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 29 + 3*i AS w, 21 + 2*i AS h FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         CAST(8 + 2*((7*d.i + 3*(ux.x // 8) + 5*(uy.y // 8)) % 120) AS DOUBLE) AS yv,
         17.0e0 * (((11*d.i + (ux.x // 16) + 2*(uy.y // 8)) % 15) - 7) AS cbd,
         17.0e0 * (((13*d.i + 2*(ux.x // 16) + (uy.y // 8)) % 15) - 7) AS crd
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
),
rgb AS (
  SELECT i, w, h,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv + 1.402e0*crd + 0.5e0))) AS r,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv - 0.344136e0*cbd - 0.714136e0*crd + 0.5e0))) AS g,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv + 1.772e0*cbd + 0.5e0))) AS b
  FROM px
)
SELECT CAST(800 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h ORDER BY media_id
"""


@query("jpeg_422_pixel_stats", survey="llm-multimodal,X6", oracle=JPEG_422_STATS_ORACLE)
def jpeg_422_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL entropy-level 4:2:2 COLOR JPEG decode, distributed — the
    broadcast/video-capture profile: each MCU covers 16x8 luma pixels
    and carries two Y blocks + one Cb + one Cr, chroma subsampled
    HORIZONTALLY only. With 4:4:4 (``jpeg_color_pixel_stats``) and 4:2:0
    (``jpeg_420_pixel_stats``) this completes the oracle coverage of all
    three supported color samplings — the 2x1 MCU raster and the
    column-only replication upsample are the paths the other two cannot
    reach. Same extractor and decoder (``decode_jpeg_rgb`` is
    sampling-agnostic), same Arrow-batched mapInPandas shape.

    Fixtures mirror the 4:2:0 query's: per-8x8-block constant planes at
    the bit-exact levels, chroma on the (h, ceil(w/2)) grid (every width
    odd or 16-misaligned -> ragged/padded chroma), the oracle indexing
    chroma blocks at (x//16, y//8). Odd fixtures carry DRI/RSTn restart
    markers — same pixel math, one hash covers both. Unit twins:
    tests/test_multimodal.py test_jpeg_422_*."""
    import numpy as np

    from ..operators.multimodal import (
        decode_jpeg_rgb,
        encode_jpeg_ycbcr_422,
        extract_pixel_stats,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 29 + 3 * i, 21 + 2 * i
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        by, bx = np.mgrid[0:nby, 0:nbx]
        yb = (8 + 2 * ((7 * i + 3 * bx + 5 * by) % 120)).astype(np.uint8)
        cw = (w + 1) // 2
        ncbx = (cw + 7) // 8
        cby, cbx = np.mgrid[0:nby, 0:ncbx]
        cbb = (128 + 17 * (((11 * i + cbx + 2 * cby) % 15) - 7)).astype(np.uint8)
        crb = (128 + 17 * (((13 * i + 2 * cbx + cby) % 15) - 7)).astype(np.uint8)

        payload = encode_jpeg_ycbcr_422(
            _blocks(yb, h, w), _blocks(cbb, h, cw), _blocks(crb, h, cw),
            restart_interval=(2 if i % 2 else 0),
        )
        rows.append((800 + i, payload, "image/jpeg", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media, decoder=decode_jpeg_rgb).orderBy("media_id")


# Progressive-JPEG pixel-stats oracle: IDENTICAL pixel math to
# JPEG_COLOR_STATS_ORACLE (4:4:4 constant-block planes at the bit-exact
# levels) — the thing under test is the MULTI-SCAN Annex-G decode path:
# interleaved DC first scan at Al=1, DC refinement restoring the low bit,
# spectral-selection AC scans (pure EOB runs on constant blocks), the
# between-scan marker walk, and the one-shot dequantize+IDCT at EOI. Any
# drift in successive-approximation reconstruction (e.g. the floor-shift
# DC point transform) shifts every pixel and breaks the hash.
JPEG_PROG_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 29 + 3*i AS w, 21 + 2*i AS h FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         CAST(8 + 2*((7*d.i + 3*(ux.x // 8) + 5*(uy.y // 8)) % 120) AS DOUBLE) AS yv,
         17.0e0 * (((11*d.i + (ux.x // 8) + 2*(uy.y // 8)) % 15) - 7) AS cbd,
         17.0e0 * (((13*d.i + 2*(ux.x // 8) + (uy.y // 8)) % 15) - 7) AS crd
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
),
rgb AS (
  SELECT i, w, h,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv + 1.402e0*crd + 0.5e0))) AS r,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv - 0.344136e0*cbd - 0.714136e0*crd + 0.5e0))) AS g,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv + 1.772e0*cbd + 0.5e0))) AS b
  FROM px
)
SELECT CAST(900 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h ORDER BY media_id
"""


@query(
    "jpeg_progressive_pixel_stats", survey="llm-multimodal,X6",
    oracle=JPEG_PROG_STATS_ORACLE,
)
def jpeg_progressive_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PROGRESSIVE JPEG decode (SOF2, T.81 Annex G), distributed —
    the dominant web-JPEG coding mode, and the last piece of the still-
    image seam: coefficients accumulate across a libjpeg-like scan script
    (interleaved DC scan at Al=1, DC refinement, spectral-selection AC
    bands 1-5/6-63 first + refinement scans per component) and the IDCT
    runs once at EOI. Same extractor and Arrow-batched mapInPandas shape
    as the baseline color queries; the payload's SOF marker selects the
    multi-scan path.

    Fixtures are the 4:4:4 constant-block planes of
    ``jpeg_color_pixel_stats`` (same closed formulas, media_id 900+i)
    encoded by ``encode_jpeg_progressive`` — the transform round-trips
    stay bit-exact, so the oracle restates the identical plane/color
    arithmetic while the hash certifies the successive-approximation
    reconstruction and the between-scan walk. Dense/subsampled
    progressive content is pinned by equality-vs-baseline unit tests
    (test_jpeg_progressive_*), which need no SQL restatement."""
    import numpy as np

    from ..operators.multimodal import (
        decode_jpeg_rgb,
        encode_jpeg_progressive,
        extract_pixel_stats,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 29 + 3 * i, 21 + 2 * i
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        by, bx = np.mgrid[0:nby, 0:nbx]
        yb = (8 + 2 * ((7 * i + 3 * bx + 5 * by) % 120)).astype(np.uint8)
        cbb = (128 + 17 * (((11 * i + bx + 2 * by) % 15) - 7)).astype(np.uint8)
        crb = (128 + 17 * (((13 * i + 2 * bx + by) % 15) - 7)).astype(np.uint8)

        payload = encode_jpeg_progressive(*[_blocks(a, h, w) for a in (yb, cbb, crb)])
        rows.append((900 + i, payload, "image/jpeg", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media, decoder=decode_jpeg_rgb).orderBy("media_id")


# Sampling-matrix oracle: 4:4:0 (vertical-only subsampling, fixtures
# i<4) and 4:1:1 (4x horizontal, fixtures i>=4) — the remaining common
# Y-subsampled layouts after 4:2:0/4:2:2. Same constant-block plane
# formulas; only the chroma block index changes per layout: 4:4:0 reads
# (x//8, y//16) (columns full-res, rows halved) and 4:1:1 reads
# (x//32, y//8) (rows full-res, columns quartered).
JPEG_SAMPLING_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 29 + 3*i AS w, 21 + 2*i AS h FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         CAST(8 + 2*((7*d.i + 3*(ux.x // 8) + 5*(uy.y // 8)) % 120) AS DOUBLE) AS yv,
         17.0e0 * (((11*d.i + (CASE WHEN d.i < 4 THEN ux.x // 8 ELSE ux.x // 32 END)
                     + 2*(CASE WHEN d.i < 4 THEN uy.y // 16 ELSE uy.y // 8 END)) % 15) - 7) AS cbd,
         17.0e0 * (((13*d.i + 2*(CASE WHEN d.i < 4 THEN ux.x // 8 ELSE ux.x // 32 END)
                     + (CASE WHEN d.i < 4 THEN uy.y // 16 ELSE uy.y // 8 END)) % 15) - 7) AS crd
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
),
rgb AS (
  SELECT i, w, h,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv + 1.402e0*crd + 0.5e0))) AS r,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv - 0.344136e0*cbd - 0.714136e0*crd + 0.5e0))) AS g,
         LEAST(255e0, GREATEST(0e0, FLOOR(yv + 1.772e0*cbd + 0.5e0))) AS b
  FROM px
)
SELECT CAST(1000 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h ORDER BY media_id
"""


@query(
    "jpeg_sampling_pixel_stats", survey="llm-multimodal,X6",
    oracle=JPEG_SAMPLING_STATS_ORACLE,
)
def jpeg_sampling_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:4:0 and 4:1:1 COLOR JPEG decode, distributed — the remaining
    common Y-subsampled layouts, through the GENERIC sampling machinery
    (``encode_jpeg_ycbcr_subsampled`` + the h*v<=8 decode gate): fixtures
    i<4 are 4:4:0 (one-wide two-tall Y MCUs, row-replication upsample),
    i>=4 are 4:1:1 (four-wide Y MCUs, 4x column replication). With the
    4:4:4/4:2:0/4:2:2/progressive queries this puts every supported
    sampling layout family under an external hash. Constant-block
    fixtures at the exactness levels; odd fixtures carry DRI markers
    (same pixel math). Full dense-content matrix incl. the rarer layouts
    (1x4/4x2/2x4/3x1/1x3): test_jpeg_sampling_matrix."""
    import numpy as np

    from ..operators.multimodal import (
        decode_jpeg_rgb,
        encode_jpeg_ycbcr_subsampled,
        extract_pixel_stats,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 29 + 3 * i, 21 + 2 * i
        sh, sv = (1, 2) if i < 4 else (4, 1)
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        by, bx = np.mgrid[0:nby, 0:nbx]
        yb = (8 + 2 * ((7 * i + 3 * bx + 5 * by) % 120)).astype(np.uint8)
        ch, cw = (h + sv - 1) // sv, (w + sh - 1) // sh
        ncbx, ncby = (cw + 7) // 8, (ch + 7) // 8
        cby, cbx = np.mgrid[0:ncby, 0:ncbx]
        cbb = (128 + 17 * (((11 * i + cbx + 2 * cby) % 15) - 7)).astype(np.uint8)
        crb = (128 + 17 * (((13 * i + 2 * cbx + cby) % 15) - 7)).astype(np.uint8)

        payload = encode_jpeg_ycbcr_subsampled(
            _blocks(yb, h, w), _blocks(cbb, ch, cw), _blocks(crb, ch, cw), (sh, sv),
            restart_interval=(2 if i % 2 else 0),
        )
        rows.append((1000 + i, payload, "image/jpeg", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media, decoder=decode_jpeg_rgb).orderBy("media_id")


# GIF pixel-stats oracle: GIF is LOSSLESS (palette indices through LZW),
# so the decoded pixel at (x, y) is exactly palette[idx(x, y)] and the
# oracle restates both closed formulas — no transform exactness contract
# needed. idx = (x + 2y + 7i) mod 16 depends on y, so the interlaced
# fixtures (odd i: rows stored in the 4-pass order) break the hash if the
# de-weave is wrong, not just the row order.
GIF_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 29 + 3*i AS w, 21 + 2*i AS h FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         (ux.x + 2*uy.y + 7*d.i) % 16 AS j
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
),
rgb AS (
  SELECT i, w, h,
         (3*j + 5) % 256 AS r, (7*j + 1) % 256 AS g, (11*j + 4) % 256 AS b
  FROM px
)
SELECT CAST(1100 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h ORDER BY media_id
"""


@query("gif_pixel_stats", survey="llm-multimodal,X6", oracle=GIF_STATS_ORACLE)
def gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF pixel decode, distributed — variable-width LSB-first LZW
    over palette indices (GIF87a/89a Appendix F), the last header-only
    still-image format brought to pixel depth. Runs through the SAME
    stats operator as PNG via the production-codec seam:
    ``extract_pixel_stats(media, decoder=decode_gif_rgb)`` — so this row
    also externally certifies the ``decoder=`` injection path itself.

    Fixtures: 16-color formula palette + per-pixel index formula
    (lossless codec -> the oracle restates palette[idx] directly); odd
    fixtures store rows INTERLACED (4-pass order), and the index formula
    depends on y, so the de-weave is under the hash. LZW dictionaries
    grow past one width boundary at these sizes; growth-to-4096 resets
    are unit-pinned (test_gif_lzw_layer_roundtrip_growth_and_reset)."""
    import numpy as np

    from ..operators.multimodal import (
        decode_gif_rgb,
        encode_gif_rgb,
        extract_pixel_stats,
    )

    pal = [((3 * j + 5) % 256, (7 * j + 1) % 256, (11 * j + 4) % 256) for j in range(16)]
    rows = []
    for i in range(_N_PER_KIND):
        w, h = 29 + 3 * i, 21 + 2 * i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        idx = ((x + 2 * y + 7 * i) % 16).astype(np.uint8)
        payload = encode_gif_rgb(idx, pal, interlace=bool(i % 2))
        rows.append((1100 + i, payload, "image/gif", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media, decoder=decode_gif_rgb).orderBy("media_id")


# G.711 telephony-audio oracle: the u-law/A-law expansion is EXACT integer
# arithmetic (ITU-T G.711), so the oracle restates it verbatim — u-law:
# u = 255 - C (ones' complement), t = ((u%16)*8 + 132) << ((u//16)%8),
# sample = 132 - t when u >= 128 else t - 132; A-law: a = xor(C, 85),
# q = (a%16)*16, seg = (a//16)%8, t = q+8 / q+264 / (q+264)<<(seg-1),
# sample = t when a >= 128 else -t — then the same waveform stats as the
# PCM queries. Fixtures k<4 are u-law, k>=4 A-law; the code-byte formula
# sweeps all 256 codes, so every table entry is under the hash.
AUDIO_G711_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS k),
dims AS (
  SELECT k, 1 + (k % 2) AS channels, (801 + 100*k) * (1 + (k % 2)) AS n_samples
  FROM idx
),
s AS (
  SELECT d.k, d.channels,
         (7919 * (u.i + 13*d.k)) % 256 AS c
  FROM dims d, LATERAL (SELECT unnest(range(d.n_samples)) AS i) u
),
v AS (
  SELECT k, channels,
         CASE WHEN k < 4 THEN
           CASE WHEN (255 - c) >= 128
                THEN 132 - ((((255 - c) % 16) * 8 + 132) << (((255 - c) // 16) % 8))
                ELSE ((((255 - c) % 16) * 8 + 132) << (((255 - c) // 16) % 8)) - 132
           END
         ELSE
           CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END *
           CASE WHEN (xor(c, 85) // 16) % 8 = 0 THEN (xor(c, 85) % 16) * 16 + 8
                WHEN (xor(c, 85) // 16) % 8 = 1 THEN (xor(c, 85) % 16) * 16 + 264
                ELSE ((xor(c, 85) % 16) * 16 + 264) << ((xor(c, 85) // 16) % 8 - 1)
           END
         END AS pcm
  FROM s
)
SELECT CAST(1200 + k AS BIGINT) AS media_id,
       CAST(channels AS INTEGER) AS channels,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(pcm * pcm) AS BIGINT) AS sum_sq,
       CAST(SUM(ABS(pcm)) AS BIGINT) AS sum_abs,
       CAST(MAX(ABS(pcm)) AS INTEGER) AS peak,
       SQRT(CAST(SUM(pcm * pcm) AS DOUBLE) / COUNT(*)) AS rms
FROM v GROUP BY k, channels ORDER BY media_id
"""


@query("audio_g711_stats", survey="llm-multimodal,X6", oracle=AUDIO_G711_ORACLE)
def audio_g711_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 telephony-audio decode, distributed: u-law (WAV format
    tag 7, fixtures k<4) and A-law (tag 6, k>=4) 8-bit code streams
    expand through the exact ITU-T integer tables inside
    ``decode_wav_pcm`` and flow through the SAME stats operator as
    16-bit PCM — the decode path a speech/telephony training corpus
    needs. The code-byte formula (7919*(i+13k) mod 256) sweeps all 256
    codes in every fixture, so the entire expansion table of BOTH laws
    is under the oracle hash; the oracle restates the published integer
    expansion verbatim (see AUDIO_G711_ORACLE). Unit twins pin the
    spec anchor values and sign symmetry (test_g711_*)."""
    import numpy as np

    from ..operators.multimodal import encode_wav_g711, extract_audio_stats

    rows = []
    for k in range(_N_PER_KIND):
        channels = 1 + (k % 2)
        n_samples = (801 + 100 * k) * channels
        i = np.arange(n_samples, dtype=np.int64)
        codes = ((7919 * (i + 13 * k)) % 256).astype(np.uint8)
        law = "ulaw" if k < 4 else "alaw"
        payload = encode_wav_g711(codes, 8000, channels, law)
        rows.append((1200 + k, payload, "audio/basic", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_audio_stats(media).orderBy("media_id")


# Indexed/grayscale-PNG oracle: both color types are lossless, so the
# oracle restates the pixel formulas directly — fixtures i<4 are INDEXED
# (PLTE lookup: same 16-color formula palette as the GIF oracle; idx =
# (2x + 3y + 5i) mod 16), i>=4 are GRAYSCALE (replicated to RGB, so
# r = g = b = (4x + 9y + 6i) mod 256). The default filter cycling stores
# every row under a different filter type (0..4) at bpp=1, putting the
# single-byte-displacement un-filter paths under the driver hash.
PNG_TYPED_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 29 + 3*i AS w, 21 + 2*i AS h FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         CASE WHEN d.i < 4 THEN (2*ux.x + 3*uy.y + 5*d.i) % 16 END AS j,
         CASE WHEN d.i >= 4 THEN (4*ux.x + 9*uy.y + 6*d.i) % 256 END AS g0
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
),
rgb AS (
  SELECT i, w, h,
         CASE WHEN i < 4 THEN (3*j + 5) % 256 ELSE g0 END AS r,
         CASE WHEN i < 4 THEN (7*j + 1) % 256 ELSE g0 END AS g,
         CASE WHEN i < 4 THEN (11*j + 4) % 256 ELSE g0 END AS b
  FROM px
)
SELECT CAST(1300 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h ORDER BY media_id
"""


@query("png_typed_pixel_stats", survey="llm-multimodal,X6", oracle=PNG_TYPED_ORACLE)
def png_typed_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEXED (color type 3, PLTE lookup — the screenshot/diagram
    layout) and GRAYSCALE (type 0, replicated to RGB) PNG decode,
    distributed — widening the truecolor-only profile of
    ``image_pixel_stats`` to the two remaining alpha-free color types.
    Both run at filter displacement bpp=1, where 'left' in the five
    scanline filters is the previous BYTE — arithmetic the 3-byte
    truecolor fixtures cannot reach. Same stats operator
    (``extract_pixel_stats``, default decoder); fixtures cycle all five
    filter types by row as the truecolor query does, so every bpp=1
    un-filter path is under the hash. Lossless codec -> the oracle
    restates palette[idx] / the gray formula directly. Unit twins:
    test_png_gray_and_indexed_roundtrip / test_png_out_of_profile_*."""
    import numpy as np

    from ..operators.multimodal import (
        encode_png_gray,
        encode_png_indexed,
        extract_pixel_stats,
    )

    pal = [((3 * j + 5) % 256, (7 * j + 1) % 256, (11 * j + 4) % 256) for j in range(16)]
    rows = []
    for i in range(_N_PER_KIND):
        w, h = 29 + 3 * i, 21 + 2 * i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        if i < 4:
            idx = ((2 * x + 3 * y + 5 * i) % 16).astype(np.uint8)
            payload = encode_png_indexed(idx, pal)
        else:
            g = ((4 * x + 9 * y + 6 * i) % 256).astype(np.uint8)
            payload = encode_png_gray(g)
        rows.append((1300 + i, payload, "image/png", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media).orderBy("media_id")


# IMA ADPCM + 8-bit PCM oracle: the block codec is sequential, but the
# fixtures are built from the two nibble streams whose decode has a
# CLOSED FORM — (a) all-zero nibbles at step index 0 hold the header
# seed exactly for the whole block (step 7 >> 3 == 0), and (b) all-zero
# nibbles at step index 88 ramp by the descending step//8 sequence with
# the index walking down to its 0 floor and the predictor clamping at
# 32767 (monotone non-negative diffs make clamp-during-accumulation
# equal a final LEAST) — so the oracle restates the published 89-entry
# step table verbatim and reproduces every sample with a windowed sum.
# Fixtures k>=8 are 8-bit unsigned PCM ((v-128)<<8 full-scale expansion),
# putting the last unit-only decode branch under an external-grade hash.
AUDIO_ADPCM_ORACLE = """
WITH steps(st) AS (SELECT [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767]),
ramp AS (
  SELECT j, SUM(st[GREATEST(90 - j, 1)] // 8)
             OVER (ORDER BY j ROWS UNBOUNDED PRECEDING) AS cum
  FROM (SELECT unnest(range(1, 161)) AS j), steps
),
par AS (
  SELECT k, 1 + (k % 2) AS channels, 8000 + 1000*(k % 3) AS rate,
         2 + (k % 3) AS nb
  FROM (SELECT unnest(range(8)) AS k)
),
adpcm AS (
  SELECT p.k, p.channels, p.rate, p.nb * 161 * p.channels AS n_samples,
         CASE WHEN p.k < 4
              THEN ((211*p.k + 97*ub.b + 53*uc.ch) % 60000) - 30000
              WHEN uj.j = 0
              THEN 100 + 37*p.k + 11*ub.b + 7*uc.ch
              ELSE LEAST(100 + 37*p.k + 11*ub.b + 7*uc.ch + r.cum, 32767)
         END AS v
  FROM par p,
       LATERAL (SELECT unnest(range(p.nb)) AS b) ub,
       LATERAL (SELECT unnest(range(p.channels)) AS ch) uc,
       LATERAL (SELECT unnest(range(161)) AS j) uj
       LEFT JOIN ramp r ON r.j = uj.j
),
u8 AS (
  SELECT k, 1 + (k % 2) AS channels, 11025 AS rate,
         (701 + 100*k) * (1 + (k % 2)) AS n_samples,
         (((7919 * (u.i + 29*k)) % 256) - 128) * 256 AS v
  FROM (SELECT unnest([8, 9]) AS k) ks,
       LATERAL (SELECT unnest(range((701 + 100*k) * (1 + (k % 2)))) AS i) u
),
s AS (
  SELECT k, channels, rate, n_samples, v FROM adpcm
  UNION ALL
  SELECT k, channels, rate, n_samples, v FROM u8
)
SELECT CAST(1400 + k AS BIGINT) AS media_id,
       CAST(channels AS INTEGER) AS channels,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(MAX(ABS(v)) AS INTEGER) AS peak,
       SQRT(CAST(SUM(v * v) AS DOUBLE) / n_samples) AS rms
FROM s GROUP BY k, channels, rate, n_samples ORDER BY media_id
"""


@query("audio_adpcm_stats", survey="llm-multimodal,X6", oracle=AUDIO_ADPCM_ORACLE)
def audio_adpcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL IMA/DVI ADPCM decode (WAV format 0x11 — the classic 4-bit
    block-predictive codec), distributed, plus 8-bit unsigned PCM:
    payloads flow through the SAME stats operator as every other audio
    format (``extract_audio_stats`` -> ``decode_wav_pcm``), exercising
    the RIFF extended-fmt walk (wSamplesPerBlock, fact chunk), per-block
    header seeding, nibble expansion, the step-index floor at 0, and the
    predictor clamp at 32767.

    Fixture families: k<4 hold each block constant at its header seed
    (index 0, zero nibbles); k in 4..7 ramp from index 88 through the
    full descending step table into the clamp (mono/stereo, 2-4 blocks);
    k>=8 are 8-bit PCM full-scale expansions — the one decode branch the
    r10 round left unit-only, now under the driver-grade hash. The
    general (non-closed-form) nibble arithmetic is pinned by the
    encoder-reconstruction round-trip units (test_adpcm_*)."""
    import numpy as np

    from ..operators.multimodal import extract_audio_stats, wrap_wav_adpcm

    rows = []
    for k in range(_N_PER_KIND):
        channels = 1 + (k % 2)
        rate = 8000 + 1000 * (k % 3)
        nb = 2 + (k % 3)
        spb, ba = 161, 84 * channels
        blocks = bytearray()
        for b in range(nb):
            for ch in range(channels):
                if k < 4:
                    seed = ((211 * k + 97 * b + 53 * ch) % 60000) - 30000
                    blocks += struct.pack("<hBB", seed, 0, 0)
                else:
                    seed = 100 + 37 * k + 11 * b + 7 * ch
                    blocks += struct.pack("<hBB", seed, 88, 0)
            blocks += bytes(80 * channels)  # all-zero nibble body
        payload = wrap_wav_adpcm(bytes(blocks), rate, channels, ba, spb)
        rows.append((1400 + k, payload, "audio/wav", len(payload), None))
    for k in (8, 9):
        channels = 1 + (k % 2)
        n = (701 + 100 * k) * channels
        i = np.arange(n, dtype=np.int64)
        data = ((7919 * (i + 29 * k)) % 256).astype(np.uint8).tobytes()
        fmt = b"fmt " + struct.pack(
            "<IHHIIHH", 16, 1, channels, 11025, 11025 * channels, channels, 8
        )
        body = b"WAVE" + fmt + b"data" + struct.pack("<I", len(data)) + data
        if len(data) & 1:
            body += b"\x00"
        payload = b"RIFF" + struct.pack("<I", len(body)) + body
        rows.append((1400 + k, payload, "audio/wav", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_audio_stats(media).orderBy("media_id")


# BMP oracle: BI_RGB is lossless and layout-only, so the oracle restates
# the pixel formulas directly — even fixtures are 24-bit truecolor
# (r/g/b formulas of x, y, i), odd fixtures 8-bit palettized (the same
# 16-color formula palette as the GIF/PNG oracles; idx = (3x+y+5i)%16).
# Storage alternates bottom-up/top-down by (i//2)%2 and widths sweep all
# four row-stride pad counts, so the de-flip and the 4-byte stride walk
# are both under the hash.
BMP_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 30 + 3*i AS w, 22 + 2*i AS h FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         CASE WHEN d.i % 2 = 1 THEN (3*ux.x + uy.y + 5*d.i) % 16 END AS j,
         ux.x AS x, uy.y AS y
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
),
rgb AS (
  SELECT i, w, h,
         CASE WHEN i % 2 = 0 THEN (2*x + 5*y + 3*i) % 256 ELSE (3*j + 5) % 256 END AS r,
         CASE WHEN i % 2 = 0 THEN (3*x + y + 7*i) % 256 ELSE (7*j + 1) % 256 END AS g,
         CASE WHEN i % 2 = 0 THEN (x + 4*y + 11*i) % 256 ELSE (11*j + 4) % 256 END AS b
  FROM px
)
SELECT CAST(1500 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h ORDER BY media_id
"""


@query("bmp_pixel_stats", survey="llm-multimodal,X6", oracle=BMP_STATS_ORACLE)
def bmp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP pixel decode, distributed — the uncompressed Windows
    bitmap layout (24-bit BGR truecolor and 8-bit palettized, 4-byte row
    stride, bottom-up AND top-down storage), the screenshot/export
    format a crawl corpus carries alongside PNG/GIF/JPEG. Runs through
    the SAME stats operator via the production-codec seam:
    ``extract_pixel_stats(media, decoder=decode_bmp_rgb)``.

    Fixtures sweep all four stride pad counts (w = 30 + 3i) and
    alternate color depth by parity and scan direction by (i//2)%2;
    lossless codec -> the oracle restates the pixel/palette formulas
    directly. Unit twins: test_bmp_roundtrip_bitexact_matrix /
    test_bmp_out_of_profile_rejects."""
    import numpy as np

    from ..operators.multimodal import (
        decode_bmp_rgb,
        encode_bmp_indexed,
        encode_bmp_rgb,
        extract_pixel_stats,
    )

    pal = [((3 * j + 5) % 256, (7 * j + 1) % 256, (11 * j + 4) % 256) for j in range(16)]
    rows = []
    for i in range(_N_PER_KIND):
        w, h = 30 + 3 * i, 22 + 2 * i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        td = bool((i // 2) % 2)
        if i % 2 == 0:
            img = np.stack(
                [
                    (2 * x + 5 * y + 3 * i) % 256,
                    (3 * x + y + 7 * i) % 256,
                    (x + 4 * y + 11 * i) % 256,
                ],
                axis=-1,
            ).astype(np.uint8)
            payload = encode_bmp_rgb(img, top_down=td)
        else:
            idx = ((3 * x + y + 5 * i) % 16).astype(np.uint8)
            payload = encode_bmp_indexed(idx, pal, top_down=td)
        rows.append((1500 + i, payload, "image/bmp", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media, decoder=decode_bmp_rgb).orderBy("media_id")


# dHash near-dup oracle: every stage of the perceptual pipeline is exact
# integer arithmetic (grayscale sum//3 on r=g=b fixtures, floor-partition
# 8x9 pooling, right>left gradient bits, 16-bit band chunks, signed-BIGINT
# hash composition, banded self-join + bit_count(xor) verify), so the
# whole decode->hash->LSH->verify chain is restated in SQL from the pixel
# formulas. Perturbed copies add +40 inside exactly one pooled cell, so a
# near-dup differs in <= 2 bits — inside the pigeonhole-lossless band
# guarantee (3 differing bits cannot touch all 4 bands).
DHASH_NEARDUP_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
imgs AS (
  SELECT i, kind, CASE WHEN kind = 0 THEN 1600 + i ELSE 1620 + i END AS media_id,
         36 + 4*i AS w, 24 + 4*i AS h
  FROM idx, (SELECT unnest([0, 1]) AS kind)
),
gray AS (
  SELECT m.media_id, (ux.x*9)//m.w AS cx, (uy.y*8)//m.h AS cy,
         ((2 + m.i)*ux.x + (3 + 2*m.i)*uy.y + 7*m.i) % 200
         + CASE WHEN m.kind = 1 AND (ux.x*9)//m.w = 4 AND (uy.y*8)//m.h = 3
                THEN 40 ELSE 0 END AS g
  FROM imgs m,
       LATERAL (SELECT unnest(range(m.w)) AS x) ux,
       LATERAL (SELECT unnest(range(m.h)) AS y) uy
),
cells AS (
  SELECT media_id, cy, cx, SUM(g) // COUNT(*) AS c
  FROM gray GROUP BY media_id, cy, cx
),
bits AS (
  SELECT l.media_id, l.cy AS y, l.cx AS x,
         CASE WHEN r.c > l.c THEN 1 ELSE 0 END AS bit
  FROM cells l
  JOIN cells r ON r.media_id = l.media_id AND r.cy = l.cy AND r.cx = l.cx + 1
  WHERE l.cx < 8
),
chunks AS (
  SELECT media_id, (8*y + x) // 16 AS band,
         CAST(SUM(bit * (1 << ((8*y + x) % 16))) AS BIGINT) AS chunk
  FROM bits GROUP BY media_id, (8*y + x) // 16
),
hashes AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN band = 0 THEN chunk
                       WHEN band = 1 THEN chunk * 65536
                       WHEN band = 2 THEN chunk * 4294967296
                       ELSE (chunk - CASE WHEN chunk >= 32768 THEN 65536 ELSE 0 END)
                            * 281474976710656 END) AS BIGINT) AS dhash
  FROM chunks GROUP BY media_id
),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
  FROM chunks a
  JOIN chunks b ON a.band = b.band AND a.chunk = b.chunk
               AND a.media_id < b.media_id
)
SELECT CAST(cand.id_a AS BIGINT) AS id_a,
       CAST(cand.id_b AS BIGINT) AS id_b,
       CAST(bit_count(xor(ha.dhash, hb.dhash)) AS INTEGER) AS hamming
FROM cand
JOIN hashes ha ON ha.media_id = cand.id_a
JOIN hashes hb ON hb.media_id = cand.id_b
WHERE bit_count(xor(ha.dhash, hb.dhash)) <= 3
ORDER BY id_a, id_b
"""


@query(
    "image_dhash_neardup",
    survey="llm-multimodal,dedup-simhash,X6",
    oracle=DHASH_NEARDUP_ORACLE,
)
def image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image NEAR-DUPLICATE detection, end to end and
    distributed: REAL BMP pixel decode (the ``decoder=`` seam) -> 64-bit
    dHash (8x9 floor-pooled gradient bits, ``operators/multimodal.
    dhash64``) -> banded 16-bit LSH equi-join -> exact
    bit_count(xor) <= 3 verify (``dhash_neardup_pairs``) — the image
    twin of the SimHash text pipeline, sharing its pigeonhole-lossless
    blocking guarantee. This is the dedup shape an image training corpus
    needs: candidates come from 4 shuffle-friendly band keys, never an
    all-pairs compare.

    Fixtures: 8 gradient bases + 8 perturbed copies (+40 inside exactly
    one pooled cell -> hamming <= 2) + one corrupt payload (exercises
    the NULL-hash drop); the oracle restates decode-to-verify in SQL.
    Unit twins: test_dhash_*."""
    import numpy as np

    from ..operators.multimodal import (
        decode_bmp_rgb,
        dhash_neardup_pairs,
        encode_bmp_rgb,
        extract_image_dhash,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 36 + 4 * i, 24 + 4 * i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        g = ((2 + i) * x + (3 + 2 * i) * y + 7 * i) % 200
        base = np.repeat(g[:, :, None], 3, axis=2).astype(np.uint8)
        rows.append((1600 + i, encode_bmp_rgb(base), "image/bmp", 0, None))
        mask = ((x * 9) // w == 4) & ((y * 8) // h == 3)
        pert = np.repeat((g + 40 * mask)[:, :, None], 3, axis=2).astype(np.uint8)
        rows.append((1620 + i, encode_bmp_rgb(pert), "image/bmp", 0, None))
    rows.append((1640, b"BM\x00corrupt", "image/bmp", 0, None))
    rows = [(mid, p, m, len(p), j) for mid, p, m, _, j in rows]
    media = _media_frame(spark, rows)
    hashes = extract_image_dhash(media, decoder=decode_bmp_rgb)
    return (
        dhash_neardup_pairs(hashes, max_hamming=3)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


# Audio fingerprint near-dup oracle: the energy-contour fingerprint is
# exact integer arithmetic end to end (|x| window sums over the
# (j*65)//n floor partition, right>left contour bits, band chunks,
# signed-BIGINT composition, banded join + bit_count(xor) verify), so the
# whole decode->fingerprint->LSH->verify chain is restated in SQL from
# the PCM sample formulas. Perturbed copies shift exactly one window's
# samples (+1500), touching only that window's two adjacent contour
# comparisons -> hamming <= 2, inside the pigeonhole-lossless band
# guarantee.
AUDIO_FP_NEARDUP_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
auds AS (
  SELECT i, kind, CASE WHEN kind = 0 THEN 1700 + i ELSE 1720 + i END AS media_id,
         (6500 + 130*i) * (1 + (i % 2)) AS n
  FROM idx, (SELECT unnest([0, 1]) AS kind)
),
samp AS (
  SELECT a.media_id, (uj.j*65)//a.n AS wb,
         ((7919 * (uj.j + 13*a.i)) % 4000) - 2000
         + CASE WHEN a.kind = 1 AND (uj.j*65)//a.n = 20 THEN 1500 ELSE 0 END AS v
  FROM auds a, LATERAL (SELECT unnest(range(a.n)) AS j) uj
),
wsum AS (
  SELECT media_id, wb, CAST(SUM(ABS(v)) AS BIGINT) AS s
  FROM samp GROUP BY media_id, wb
),
bits AS (
  SELECT l.media_id, l.wb AS k,
         CASE WHEN r.s > l.s THEN 1 ELSE 0 END AS bit
  FROM wsum l JOIN wsum r ON r.media_id = l.media_id AND r.wb = l.wb + 1
  WHERE l.wb < 64
),
chunks AS (
  SELECT media_id, k // 16 AS band,
         CAST(SUM(bit * (1 << (k % 16))) AS BIGINT) AS chunk
  FROM bits GROUP BY media_id, k // 16
),
hashes AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN band = 0 THEN chunk
                       WHEN band = 1 THEN chunk * 65536
                       WHEN band = 2 THEN chunk * 4294967296
                       ELSE (chunk - CASE WHEN chunk >= 32768 THEN 65536 ELSE 0 END)
                            * 281474976710656 END) AS BIGINT) AS fp
  FROM chunks GROUP BY media_id
),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
  FROM chunks a
  JOIN chunks b ON a.band = b.band AND a.chunk = b.chunk
               AND a.media_id < b.media_id
)
SELECT CAST(cand.id_a AS BIGINT) AS id_a,
       CAST(cand.id_b AS BIGINT) AS id_b,
       CAST(bit_count(xor(ha.fp, hb.fp)) AS INTEGER) AS hamming
FROM cand
JOIN hashes ha ON ha.media_id = cand.id_a
JOIN hashes hb ON hb.media_id = cand.id_b
WHERE bit_count(xor(ha.fp, hb.fp)) <= 3
ORDER BY id_a, id_b
"""


@query(
    "audio_fingerprint_neardup",
    survey="llm-multimodal,dedup-simhash,X6",
    oracle=AUDIO_FP_NEARDUP_ORACLE,
)
def audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio NEAR-DUPLICATE detection, end to end and distributed: REAL
    PCM decode -> 64-bit energy-contour fingerprint
    (``audio_fingerprint64``: |x| sums over 65 floor-partitioned
    windows, one bit per adjacent-window comparison) -> the SAME banded
    hamming LSH + bit_count(xor) verify as the image dHash pipeline
    (``dhash_neardup_pairs(hash_col="fp")``) — re-encoded/re-leveled
    audio dedup for a speech/music training corpus, never an all-pairs
    compare.

    Fixtures: 8 PCM bases (mono/stereo alternating) + 8 near-dups
    (+1500 inside exactly one contour window -> hamming <= 2) + one
    corrupt payload (NULL-fingerprint drop); the oracle restates
    decode-to-verify in SQL. Unit twins: test_audio_fingerprint_*."""
    import numpy as np

    from ..operators.multimodal import (
        dhash_neardup_pairs,
        encode_wav_pcm,
        extract_audio_fingerprint,
    )

    rows = []
    for i in range(_N_PER_KIND):
        channels = 1 + (i % 2)
        n = (6500 + 130 * i) * channels
        j = np.arange(n, dtype=np.int64)
        v = ((7919 * (j + 13 * i)) % 4000) - 2000
        base = v.astype(np.int16)
        rows.append((1700 + i, encode_wav_pcm(base, 8000, channels), "audio/wav"))
        wb = (j * 65) // n
        pert = (v + 1500 * (wb == 20)).astype(np.int16)
        rows.append((1720 + i, encode_wav_pcm(pert, 8000, channels), "audio/wav"))
    rows.append((1740, b"RIFFcorrupt", "audio/wav"))
    rows = [(mid, p, m, len(p), None) for mid, p, m in rows]
    media = _media_frame(spark, rows)
    fps = extract_audio_fingerprint(media)
    return (
        dhash_neardup_pairs(fps, max_hamming=3, hash_col="fp")
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


# Scene-change oracle: fixture frames are per-block constants that are
# STATIC within a scene (value depends on scene id s = f//3, not f), so
# in-scene transitions diff to exactly 0 and scene boundaries diff by
# the formula level jump — the oracle restates the per-pixel values,
# LAGs across frames, and applies the same integer cut rule
# diff > 8 * n_px. Even levels keep the JPEG round-trip bit-exact, so
# the Spark side's decoded frames equal the formula exactly.
SCENE_CHANGES_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
vids AS (SELECT i, 4 + i AS n_frames, 29 + 3*(i % 4) AS w, 21 + 2*(i % 4) AS h FROM idx),
px AS (
  SELECT v.i, v.n_frames, v.w, v.h, uf.f, ux.x, uy.y,
         8 + 2*((7*v.i + 3*(ux.x // 8) + 5*(uy.y // 8) + 31*(uf.f // 3)) % 120) AS val
  FROM vids v,
       LATERAL (SELECT unnest(range(v.n_frames)) AS f) uf,
       LATERAL (SELECT unnest(range(v.w)) AS x) ux,
       LATERAL (SELECT unnest(range(v.h)) AS y) uy
),
diffs AS (
  SELECT a.i, a.n_frames, a.w, a.h, a.f,
         SUM(ABS(a.val - b.val)) AS d
  FROM px a
  JOIN px b ON b.i = a.i AND b.f = a.f - 1 AND b.x = a.x AND b.y = a.y
  GROUP BY a.i, a.n_frames, a.w, a.h, a.f
),
cuts AS (
  SELECT i, n_frames,
         COUNT(*) FILTER (WHERE d > 8 * w * h) AS n_cuts,
         MIN(f) FILTER (WHERE d > 8 * w * h) AS first_cut,
         SUM(d) AS sum_diff, MAX(d) AS max_diff
  FROM diffs GROUP BY i, n_frames
)
SELECT CAST(1800 + i AS BIGINT) AS media_id,
       CAST(n_frames AS INTEGER) AS n_frames,
       CAST(n_cuts AS INTEGER) AS n_cuts,
       CAST(first_cut AS INTEGER) AS first_cut,
       CAST(sum_diff AS BIGINT) AS sum_diff,
       CAST(max_diff AS BIGINT) AS max_diff
FROM cuts ORDER BY media_id
"""


@query("video_scene_changes", survey="llm-multimodal,X6", oracle=SCENE_CHANGES_ORACLE)
def video_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCENE-CHANGE (shot boundary) detection over REAL video decode,
    distributed: the ISO-BMFF sample walk slices MJPEG frames, the JPEG
    codec reconstructs pixels, and adjacent frames reduce to exact int64
    absolute-difference sums with an integer cut rule
    (diff > 8 * n_px) — the pass a video corpus runs before frame
    sampling so samples cover scenes rather than duplicating one
    (``extract_video_scene_changes``).

    Fixtures: 4..11 frames per video, per-block constants STATIC within
    each 3-frame scene (in-scene diffs exactly 0) with formula level
    jumps at scene boundaries; even levels keep the JPEG round-trip
    bit-exact, so the oracle restates pixels -> LAG diffs -> cut rule
    verbatim. Unit twins: test_scene_changes_*."""
    import numpy as np

    from ..operators.multimodal import (
        build_mp4_mjpeg,
        encode_jpeg_gray,
        extract_video_scene_changes,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 29 + 3 * (i % 4), 21 + 2 * (i % 4)
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        frames = []
        for f in range(4 + i):
            by, bx = np.mgrid[0:nby, 0:nbx]
            bv = (8 + 2 * ((7 * i + 3 * bx + 5 * by + 31 * (f // 3)) % 120)).astype(
                np.uint8
            )
            frames.append(
                encode_jpeg_gray(_blocks(bv, h, w))
            )
        rows.append(
            (1800 + i, build_mp4_mjpeg(frames, use_co64=bool(i % 2)), "video/mp4", 0, None)
        )
    rows = [(mid, p, m, len(p), j) for mid, p, m, _, j in rows]
    media = _media_frame(spark, rows)
    return extract_video_scene_changes(media).orderBy("media_id")


# Incremental media-dedup oracle: corpus hashes (8 gradient bases),
# batch hashes (4 perturbed near-dups + 2 fresh-formula images), the
# ONE-SIDED banded join, the hamming verify, and the min-corpus-id match
# resolution are all restated in SQL from the pixel formulas; the
# corrupt batch payload joins the result as a literal `undecodable` row
# (SQL has no decode to fail).
INCR_MEDIA_ORACLE = """
WITH imgs AS (
  SELECT 1900 + i AS media_id, 0 AS kind, i, 36 + 4*i AS w, 24 + 4*i AS h
  FROM (SELECT unnest(range(8)) AS i)
  UNION ALL
  SELECT 1950 + i, 1, i, 36 + 4*i, 24 + 4*i FROM (SELECT unnest(range(4)) AS i)
  UNION ALL
  SELECT 1950 + i, 2, i, 36 + 4*i, 24 + 4*i FROM (SELECT unnest([4, 5]) AS i)
),
gray AS (
  SELECT m.media_id, m.kind, (ux.x*9)//m.w AS cx, (uy.y*8)//m.h AS cy,
         CASE WHEN m.kind = 2
              THEN (5*ux.x + 2*uy.y + 13*m.i) % 190
              ELSE ((2 + m.i)*ux.x + (3 + 2*m.i)*uy.y + 7*m.i) % 200
                   + CASE WHEN m.kind = 1 AND (ux.x*9)//m.w = 4
                               AND (uy.y*8)//m.h = 3 THEN 40 ELSE 0 END
         END AS g
  FROM imgs m,
       LATERAL (SELECT unnest(range(m.w)) AS x) ux,
       LATERAL (SELECT unnest(range(m.h)) AS y) uy
),
cells AS (
  SELECT media_id, kind, cy, cx, SUM(g) // COUNT(*) AS c
  FROM gray GROUP BY media_id, kind, cy, cx
),
bits AS (
  SELECT l.media_id, l.kind, l.cy AS y, l.cx AS x,
         CASE WHEN r.c > l.c THEN 1 ELSE 0 END AS bit
  FROM cells l
  JOIN cells r ON r.media_id = l.media_id AND r.cy = l.cy AND r.cx = l.cx + 1
  WHERE l.cx < 8
),
chunks AS (
  SELECT media_id, kind, (8*y + x) // 16 AS band,
         CAST(SUM(bit * (1 << ((8*y + x) % 16))) AS BIGINT) AS chunk
  FROM bits GROUP BY media_id, kind, (8*y + x) // 16
),
hashes AS (
  SELECT media_id, kind,
         CAST(SUM(CASE WHEN band = 0 THEN chunk
                       WHEN band = 1 THEN chunk * 65536
                       WHEN band = 2 THEN chunk * 4294967296
                       ELSE (chunk - CASE WHEN chunk >= 32768 THEN 65536 ELSE 0 END)
                            * 281474976710656 END) AS BIGINT) AS dhash
  FROM chunks GROUP BY media_id, kind
),
cand AS (
  SELECT DISTINCT b.media_id AS batch_id, c.media_id AS corpus_id
  FROM chunks b
  JOIN chunks c ON c.kind = 0 AND b.kind != 0
               AND c.band = b.band AND c.chunk = b.chunk
),
verified AS (
  SELECT cand.batch_id, cand.corpus_id,
         bit_count(xor(hb.dhash, hc.dhash)) AS hamming
  FROM cand
  JOIN hashes hb ON hb.media_id = cand.batch_id AND hb.kind != 0
  JOIN hashes hc ON hc.media_id = cand.corpus_id AND hc.kind = 0
  WHERE bit_count(xor(hb.dhash, hc.dhash)) <= 3
),
resolved AS (
  SELECT batch_id, MIN(corpus_id) AS match_id FROM verified GROUP BY batch_id
)
SELECT CAST(b.media_id AS BIGINT) AS media_id,
       CASE WHEN r.match_id IS NOT NULL THEN 'dup_near' ELSE 'kept' END AS status,
       CAST(r.match_id AS BIGINT) AS match_id,
       CAST(v.hamming AS INTEGER) AS hamming
FROM (SELECT media_id FROM imgs WHERE kind != 0) b
LEFT JOIN resolved r ON r.batch_id = b.media_id
LEFT JOIN verified v ON v.batch_id = b.media_id AND v.corpus_id = r.match_id
UNION ALL
SELECT 1956, 'undecodable', NULL, NULL
ORDER BY media_id
"""


@query(
    "incremental_media_dedup",
    survey="llm-multimodal,dedup-simhash,dedup-incremental,X6",
    oracle=INCR_MEDIA_ORACLE,
)
def incremental_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MEDIA ingestion dedup — the steady-state corpus shape,
    composing the perceptual-hash layer with the one-sided routing
    contract of ``incremental_dedup``: a new media batch's dHashes join
    a persisted corpus fingerprint index on the 4x16-bit bands (batch x
    corpus only, NEVER a corpus self-join), exact-verify at
    hamming <= 3, and each batch item routes to dup_near (smallest-id
    match, deterministic), kept, or undecodable (quarantine, never
    silent ingestion) via ``media_neardup_route``.

    Fixtures: 8-image corpus; batch of 4 perturbed near-dups + 2
    fresh-formula images + 1 corrupt payload. The oracle restates
    decode -> hash -> one-sided LSH -> verify -> min-id resolution from
    the pixel formulas. Unit twins: test_media_neardup_route_*."""
    import numpy as np

    from ..operators.multimodal import (
        decode_bmp_rgb,
        encode_bmp_rgb,
        extract_image_dhash,
        media_neardup_route,
    )

    def gradient(i, pert=False):
        w, h = 36 + 4 * i, 24 + 4 * i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        g = ((2 + i) * x + (3 + 2 * i) * y + 7 * i) % 200
        if pert:
            g = g + 40 * (((x * 9) // w == 4) & ((y * 8) // h == 3))
        return np.repeat(g[:, :, None], 3, axis=2).astype(np.uint8)

    def fresh(i):
        w, h = 36 + 4 * i, 24 + 4 * i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        g = (5 * x + 2 * y + 13 * i) % 190
        return np.repeat(g[:, :, None], 3, axis=2).astype(np.uint8)

    corpus_rows = [
        (1900 + i, encode_bmp_rgb(gradient(i)), "image/bmp") for i in range(8)
    ]
    batch_rows = (
        [(1950 + i, encode_bmp_rgb(gradient(i, pert=True)), "image/bmp") for i in range(4)]
        + [(1950 + i, encode_bmp_rgb(fresh(i)), "image/bmp") for i in (4, 5)]
        + [(1956, b"BM\x00corrupt", "image/bmp")]
    )
    as_media = lambda rows: _media_frame(
        spark, [(mid, p, m, len(p), None) for mid, p, m in rows]
    )
    corpus = extract_image_dhash(as_media(corpus_rows), decoder=decode_bmp_rgb)
    batch = extract_image_dhash(as_media(batch_rows), decoder=decode_bmp_rgb)
    return (
        media_neardup_route(batch, corpus, max_hamming=3)
        .select(
            "media_id",
            "status",
            "match_id",
            F.col("hamming").cast("int").alias("hamming"),
        )
        .orderBy("media_id")
    )


def _stream_media_oracle(n_batches: int) -> str:
    """Unrolled WITH-chain for the streaming media ingest: the dHash
    machinery over every fixture image (corpus family A, streamed fresh
    family F, perturbed copies), then per-batch fold c{k} -> r{k} ->
    c{k+1} mirroring the foreachBatch state appends — batch k's dup item
    copies batch k-1's KEPT item, so the chain only matches if the
    evolving-state fold is right. The corrupt payload joins the final
    union as a literal `undecodable` row."""
    parts = [
        """WITH imgs AS (
  SELECT 2100 + i AS media_id, i AS fam, 0 AS ftype, 0 AS pert
  FROM (SELECT unnest(range(8)) AS i)
  UNION ALL
  SELECT 2200, 0, 0, 1
  UNION ALL
  SELECT 2200 + 10*k, k - 1, 1, 1 FROM (SELECT unnest(range(1, %d)) AS k)
  UNION ALL
  SELECT 2201 + 10*k, k, 1, 0 FROM (SELECT unnest(range(%d)) AS k)
),
dims AS (
  SELECT media_id, fam, ftype, pert,
         CASE WHEN ftype = 0 THEN 36 + 4*fam ELSE 40 + 4*fam END AS w,
         CASE WHEN ftype = 0 THEN 24 + 4*fam ELSE 28 + 4*fam END AS h
  FROM imgs
),
gray AS (
  SELECT m.media_id, (ux.x*9)//m.w AS cx, (uy.y*8)//m.h AS cy,
         CASE WHEN m.ftype = 0
              THEN ((2 + m.fam)*ux.x + (3 + 2*m.fam)*uy.y + 7*m.fam) %% 200
              ELSE (5*ux.x + 2*uy.y + 13*m.fam) %% 190
         END
         + CASE WHEN m.pert = 1 AND (ux.x*9)//m.w = 4 AND (uy.y*8)//m.h = 3
                THEN 40 ELSE 0 END AS g
  FROM dims m,
       LATERAL (SELECT unnest(range(m.w)) AS x) ux,
       LATERAL (SELECT unnest(range(m.h)) AS y) uy
),
cells AS (
  SELECT media_id, cy, cx, SUM(g) // COUNT(*) AS c
  FROM gray GROUP BY media_id, cy, cx
),
bits AS (
  SELECT l.media_id, l.cy AS y, l.cx AS x,
         CASE WHEN r.c > l.c THEN 1 ELSE 0 END AS bit
  FROM cells l
  JOIN cells r ON r.media_id = l.media_id AND r.cy = l.cy AND r.cx = l.cx + 1
  WHERE l.cx < 8
),
chunks AS (
  SELECT media_id, (8*y + x) // 16 AS band,
         CAST(SUM(bit * (1 << ((8*y + x) %% 16))) AS BIGINT) AS chunk
  FROM bits GROUP BY media_id, (8*y + x) // 16
),
hashes AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN band = 0 THEN chunk
                       WHEN band = 1 THEN chunk * 65536
                       WHEN band = 2 THEN chunk * 4294967296
                       ELSE (chunk - CASE WHEN chunk >= 32768 THEN 65536 ELSE 0 END)
                            * 281474976710656 END) AS BIGINT) AS dhash
  FROM chunks GROUP BY media_id
),
c0 AS (SELECT media_id FROM imgs WHERE media_id < 2200)"""
        % (n_batches, n_batches)
    ]
    for k in range(n_batches):
        parts.append(
            f""",
b{k} AS (SELECT unnest([{2200 + 10 * k}, {2201 + 10 * k}]) AS media_id),
m{k} AS (
  SELECT v.bid AS media_id, MIN(v.cid) AS match_id
  FROM (
    SELECT DISTINCT bb.media_id AS bid, cb.media_id AS cid
    FROM chunks bb
    JOIN chunks cb ON cb.band = bb.band AND cb.chunk = bb.chunk
    WHERE bb.media_id IN (SELECT media_id FROM b{k})
      AND cb.media_id IN (SELECT media_id FROM c{k})
  ) v
  JOIN hashes hb ON hb.media_id = v.bid
  JOIN hashes hc ON hc.media_id = v.cid
  WHERE bit_count(xor(hb.dhash, hc.dhash)) <= 3
  GROUP BY v.bid
),
r{k} AS (
  SELECT b.media_id,
         CASE WHEN m.match_id IS NULL THEN 'kept' ELSE 'dup_near' END AS status,
         m.match_id
  FROM b{k} b LEFT JOIN m{k} m USING (media_id)
),
c{k + 1} AS (
  SELECT media_id FROM c{k}
  UNION ALL
  SELECT media_id FROM r{k} WHERE status = 'kept'
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST(media_id AS BIGINT) AS media_id, status,"
        f" CAST(match_id AS BIGINT) AS match_id FROM r{k}"
        for k in range(n_batches)
    )
    parts.append(
        f"\n{union}\nUNION ALL\nSELECT 2229, 'undecodable', NULL\nORDER BY media_id"
    )
    return "".join(parts)


STREAM_MEDIA_INGEST_ORACLE = _stream_media_oracle(4)


@query(
    "stream_media_ingest_dedup",
    survey="llm-multimodal,dedup-simhash,dedup-incremental,T1,X3",
    oracle=STREAM_MEDIA_INGEST_ORACLE,
)
def stream_media_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route 4 streamed MEDIA micro-batches against an evolving corpus
    fingerprint index — the media twin of
    ``stream_semantic_ingest_dedup``. Real StreamingQuery (file source,
    1 file per micro-batch, arrival order pinned by mtime); every batch
    decodes (REAL BMP decode), hashes (``extract_image_dhash``), routes
    one-sided against the persisted index (``media_neardup_route``),
    and folds its KEPT fingerprints back APPEND-ONLY — batch k's dup
    item is a perturbed copy of batch k-1's kept item, so the result
    only matches the oracle if the state evolution is right. Corrupt
    payloads route to `undecodable` quarantine and never enter the
    index. Returns the full (media_id, status, match_id) routing
    table."""
    import shutil
    import tempfile
    import time as _time

    import numpy as np

    from ..operators.multimodal import (
        decode_bmp_rgb,
        encode_bmp_rgb,
        extract_image_dhash,
        media_neardup_route,
    )

    def gradient(i, pert=False):
        w, h = 36 + 4 * i, 24 + 4 * i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        g = ((2 + i) * x + (3 + 2 * i) * y + 7 * i) % 200
        if pert:
            g = g + 40 * (((x * 9) // w == 4) & ((y * 8) // h == 3))
        return np.repeat(g[:, :, None], 3, axis=2).astype(np.uint8)

    def fresh(k, pert=False):
        w, h = 40 + 4 * k, 28 + 4 * k
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        g = (5 * x + 2 * y + 13 * k) % 190
        if pert:
            g = g + 40 * (((x * 9) // w == 4) & ((y * 8) // h == 3))
        return np.repeat(g[:, :, None], 3, axis=2).astype(np.uint8)

    def media_rows(rows):
        return [(mid, p, "image/bmp", len(p), None) for mid, p in rows]

    tmp = tempfile.mkdtemp(prefix="sdp_media_ingest_")
    try:
        in_dir, state_dir, routed_dir, ckpt = (
            f"{tmp}/in", f"{tmp}/state", f"{tmp}/routed", f"{tmp}/ckpt",
        )
        corpus = spark.createDataFrame(
            media_rows([(2100 + i, encode_bmp_rgb(gradient(i))) for i in range(8)]),
            MEDIA_SCHEMA,
        )
        epoch_write(
            extract_image_dhash(corpus, decoder=decode_bmp_rgb), state_dir, -1
        )  # preseed: visible to all epochs

        for k in range(4):
            if k:
                _time.sleep(1.1)  # strictly increasing mtime -> batch order
            dup = (
                (2200, encode_bmp_rgb(gradient(0, pert=True)))
                if k == 0
                else (2200 + 10 * k, encode_bmp_rgb(fresh(k - 1, pert=True)))
            )
            batch = [dup, (2201 + 10 * k, encode_bmp_rgb(fresh(k)))]
            if k == 2:
                batch.append((2229, b"BM\x00corrupt"))
            spark.createDataFrame(media_rows(batch), MEDIA_SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(in_dir)

        schema = spark.read.parquet(in_dir).schema

        def route_batch(batch: DataFrame, epoch: int) -> None:
            # epoch-partitioned sinks (streaming/idempotent.py): replayed
            # epochs observe only completed predecessors and overwrite
            # their own partition — exactly-once observable folds on top
            # of foreachBatch's at-least-once delivery.
            hashes = extract_image_dhash(batch, decoder=decode_bmp_rgb)
            state = epoch_read(spark, state_dir, before_epoch=epoch)
            routed = stage_checkpoint(media_neardup_route(hashes, state))
            epoch_write(
                routed.select("media_id", "status", "match_id"), routed_dir, epoch
            )
            epoch_write(
                hashes.join(
                    routed.filter(F.col("status") == "kept"), "media_id", "left_semi"
                ),
                state_dir,
                epoch,
            )

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .writeStream.foreachBatch(route_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # maintenance between stream runs (same discipline as
        # stream_crawl_ingest): roll completed epochs into the base
        # partition — an unbounded poll loop otherwise accrues one small
        # file per epoch. The result read below runs AFTER the roll-up,
        # so the compaction's content preservation is under the same
        # oracle hash as the routing itself.
        compact_epochs(spark, state_dir, below_epoch=4)
        compact_epochs(spark, routed_dir, below_epoch=4)
        # distributed materialization (r11, same reasoning as the
        # e2e_daily_pipeline fix): localCheckpoint severs the lineage from
        # the tmp dirs `finally` deletes, keeping the routing table on
        # executors instead of shipping every row through the driver.
        return stage_checkpoint(
            spark.read.parquet(routed_dir)
            .select("media_id", "status", "match_id")
            .orderBy("media_id")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# TIFF oracle: baseline TIFF is lossless and layout-only, so the oracle
# restates the pixel formulas directly — even fixtures RGB (three
# formulas of x, y, i), odd fixtures grayscale replicated to RGB. Byte
# order flips at i >= 4 (II -> MM) and every fixture stores multiple
# strips (rows_per_strip 5, ragged final strip), so the IFD walk, the
# endianness polymorphism, and strip reassembly are all under the hash.
TIFF_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 28 + 3*i AS w, 19 + 2*i AS h FROM idx),
rgb AS (
  SELECT d.i, d.w, d.h,
         CASE WHEN d.i % 2 = 0 THEN (3*ux.x + 2*uy.y + 5*d.i) % 256
              ELSE (6*ux.x + 5*uy.y + 9*d.i) % 256 END AS r,
         CASE WHEN d.i % 2 = 0 THEN (ux.x + 7*uy.y + 11*d.i) % 256
              ELSE (6*ux.x + 5*uy.y + 9*d.i) % 256 END AS g,
         CASE WHEN d.i % 2 = 0 THEN (5*ux.x + 3*uy.y + 2*d.i) % 256
              ELSE (6*ux.x + 5*uy.y + 9*d.i) % 256 END AS b
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
)
SELECT CAST(2300 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h ORDER BY media_id
"""


@query("tiff_pixel_stats", survey="llm-multimodal,X6", oracle=TIFF_STATS_ORACLE)
def tiff_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-TIFF pixel decode, distributed — the scanned-
    document/archival container: byte-order-polymorphic IFD walk
    (little-endian 'II' fixtures i<4, big-endian 'MM' i>=4), the spec's
    inline-vs-offset tag value rule, and multi-strip reassembly (ragged
    final strip), over uncompressed chunky grayscale (odd i, replicated
    to RGB) and RGB (even i) at 8 bits. Runs through the SAME stats
    operator via the production-codec seam:
    ``extract_pixel_stats(media, decoder=decode_tiff_rgb)``; LZW/
    PackBits/tiled TIFF stay behind the seam. Lossless codec -> the
    oracle restates the pixel formulas directly. Unit twins:
    test_tiff_roundtrip_bitexact_matrix / test_tiff_out_of_profile_*."""
    import numpy as np

    from ..operators.multimodal import (
        decode_tiff_rgb,
        encode_tiff,
        extract_pixel_stats,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 28 + 3 * i, 19 + 2 * i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        order = "II" if i < 4 else "MM"
        if i % 2 == 0:
            img = np.stack(
                [
                    (3 * x + 2 * y + 5 * i) % 256,
                    (x + 7 * y + 11 * i) % 256,
                    (5 * x + 3 * y + 2 * i) % 256,
                ],
                axis=-1,
            ).astype(np.uint8)
        else:
            img = ((6 * x + 5 * y + 9 * i) % 256).astype(np.uint8)
        payload = encode_tiff(img, order=order, rows_per_strip=5)
        rows.append((2300 + i, payload, "image/tiff", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media, decoder=decode_tiff_rgb).orderBy("media_id")


# Keyframe oracle: shares the scene fixtures' closed forms — cuts from
# the LAG-diff rule, keyframes = {0} + cuts, and the stats aggregate
# keyframe pixels only; the keyframe list is compared as a canonical
# comma-joined string (order-pinned), so the exact index SET is under
# the hash, not just its size.
KEYFRAME_STATS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
vids AS (SELECT i, 4 + i AS n_frames, 29 + 3*(i % 4) AS w, 21 + 2*(i % 4) AS h FROM idx),
px AS (
  SELECT v.i, v.n_frames, v.w, v.h, uf.f, ux.x, uy.y,
         8 + 2*((7*v.i + 3*(ux.x // 8) + 5*(uy.y // 8) + 31*(uf.f // 3)) % 120) AS val
  FROM vids v,
       LATERAL (SELECT unnest(range(v.n_frames)) AS f) uf,
       LATERAL (SELECT unnest(range(v.w)) AS x) ux,
       LATERAL (SELECT unnest(range(v.h)) AS y) uy
),
diffs AS (
  SELECT a.i, a.f, SUM(ABS(a.val - b.val)) AS d, a.w, a.h
  FROM px a
  JOIN px b ON b.i = a.i AND b.f = a.f - 1 AND b.x = a.x AND b.y = a.y
  GROUP BY a.i, a.f, a.w, a.h
),
kf AS (
  SELECT i, 0 AS f FROM idx
  UNION ALL
  SELECT i, f FROM diffs WHERE d > 8 * w * h
),
stats AS (
  SELECT p.i, v.n_frames,
         COUNT(DISTINCT p.f) AS nk_px_frames,
         SUM(p.val) AS kf_sum_v, MIN(p.val) AS kf_min_v, MAX(p.val) AS kf_max_v
  FROM px p JOIN kf ON kf.i = p.i AND kf.f = p.f
  JOIN vids v ON v.i = p.i
  GROUP BY p.i, v.n_frames
),
lists AS (
  SELECT i, COUNT(*) AS n_keyframes, string_agg(f, ',' ORDER BY f) AS kf_csv
  FROM kf GROUP BY i
)
SELECT CAST(2400 + s.i AS BIGINT) AS media_id,
       CAST(s.n_frames AS INTEGER) AS n_frames,
       CAST(l.n_keyframes AS INTEGER) AS n_keyframes,
       l.kf_csv,
       CAST(s.kf_sum_v AS BIGINT) AS kf_sum_v,
       CAST(s.kf_min_v AS INTEGER) AS kf_min_v,
       CAST(s.kf_max_v AS INTEGER) AS kf_max_v
FROM stats s JOIN lists l ON l.i = s.i
ORDER BY media_id
"""


@query("video_keyframe_stats", survey="llm-multimodal,X6", oracle=KEYFRAME_STATS_ORACLE)
def video_keyframe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-aware KEYFRAME extraction over REAL video decode — the
    sampling pass that composes with shot-boundary detection: frame 0
    plus the first frame of each new scene become the video's
    keyframes (one representative per scene, instead of fps-uniform
    frames oversampling long static shots), and luminance stats
    aggregate over keyframes only (``extract_keyframe_stats``). The
    keyframe index list is emitted as a canonical comma-joined string,
    so the oracle hash pins the exact SET of chosen frames, not just
    the count. Same scene-structured fixtures and closed forms as
    ``video_scene_changes``."""
    import numpy as np

    from ..operators.multimodal import (
        build_mp4_mjpeg,
        encode_jpeg_gray,
        extract_keyframe_stats,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 29 + 3 * (i % 4), 21 + 2 * (i % 4)
        nbx, nby = (w + 7) // 8, (h + 7) // 8
        frames = []
        for f in range(4 + i):
            by, bx = np.mgrid[0:nby, 0:nbx]
            bv = (8 + 2 * ((7 * i + 3 * bx + 5 * by + 31 * (f // 3)) % 120)).astype(
                np.uint8
            )
            frames.append(
                encode_jpeg_gray(_blocks(bv, h, w))
            )
        rows.append(
            (2400 + i, build_mp4_mjpeg(frames, use_co64=bool(i % 2)), "video/mp4", 0, None)
        )
    rows = [(mid, p, m, len(p), j) for mid, p, m, _, j in rows]
    media = _media_frame(spark, rows)
    return (
        extract_keyframe_stats(media)
        .select(
            "media_id",
            "n_frames",
            "n_keyframes",
            F.concat_ws(
                ",", F.transform(F.col("keyframe_idx"), lambda x: x.cast("string"))
            ).alias("kf_csv"),
            "kf_sum_v",
            "kf_min_v",
            "kf_max_v",
        )
        .orderBy("media_id")
    )


# Compressed-TIFF oracle: LZW and PackBits are lossless, so the oracle
# is still just the pixel formulas — everything under test (the
# MSB-first early-change LZW decoder, PackBits run expansion, per-strip
# stream boundaries, both byte orders) must reproduce them exactly or
# the hash breaks. The (x//4) term gives rows 4-pixel runs so PackBits
# emits real repeat packets and LZW builds multi-symbol entries.
TIFF_COMPRESSED_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 27 + 3*i AS w, 18 + 2*i AS h FROM idx),
rgb AS (
  SELECT d.i, d.w, d.h,
         (3*(ux.x // 4) + 2*uy.y + 5*d.i) % 256 AS r,
         (7*(ux.x // 4) + uy.y + 11*d.i) % 256 AS g,
         (2*(ux.x // 4) + 5*uy.y + 3*d.i) % 256 AS b
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
)
SELECT CAST(2500 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h ORDER BY media_id
"""


@query(
    "tiff_compressed_pixel_stats",
    survey="llm-multimodal,X6",
    oracle=TIFF_COMPRESSED_ORACLE,
)
def tiff_compressed_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED TIFF pixel decode, distributed — the two compressions
    real scanned-document corpora actually carry: PackBits run-length
    (even fixtures) and TIFF LZW with the early-change code-width rule
    (odd fixtures), per-strip streams (rows_per_strip 4, ragged final
    strip), little-endian i<4 / big-endian i>=4. Same stats operator
    via the seam (``decode_tiff_rgb`` dispatches on tag 259). Lossless
    codecs -> the oracle restates the pixel formulas; the (x//4) run
    structure makes both compressions do real work. Unit twins:
    test_tiff_compressed_roundtrip_and_rejects."""
    import numpy as np

    from ..operators.multimodal import (
        decode_tiff_rgb,
        encode_tiff,
        extract_pixel_stats,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 27 + 3 * i, 18 + 2 * i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        img = np.stack(
            [
                (3 * (x // 4) + 2 * y + 5 * i) % 256,
                (7 * (x // 4) + y + 11 * i) % 256,
                (2 * (x // 4) + 5 * y + 3 * i) % 256,
            ],
            axis=-1,
        ).astype(np.uint8)
        comp = 32773 if i % 2 == 0 else 5
        order = "II" if i < 4 else "MM"
        payload = encode_tiff(img, order=order, rows_per_strip=4, compression=comp)
        rows.append((2500 + i, payload, "image/tiff", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media, decoder=decode_tiff_rgb).orderBy("media_id")


# RLE8-BMP oracle: run-length is lossless, so the oracle restates the
# index/palette formulas; the (x//5) run structure makes the RLE emit
# real multi-pixel run packets on every row; the encoder's 255-pixel
# packet cap is pinned separately by a unit round-trip on a 300-wide
# constant row.
BMP_RLE_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 26 + 41*i AS w, 15 + 2*i AS h FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         ((ux.x // 5) + 2*uy.y + 3*d.i) % 16 AS j
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
),
rgb AS (
  SELECT i, w, h,
         (3*j + 5) % 256 AS r, (7*j + 1) % 256 AS g, (11*j + 4) % 256 AS b
  FROM px
)
SELECT CAST(2600 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h ORDER BY media_id
"""


@query("bmp_rle_pixel_stats", survey="llm-multimodal,X6", oracle=BMP_RLE_ORACLE)
def bmp_rle_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI_RLE8 BMP decode, distributed — the run-length variant legacy
    screenshot/icon corpora carry: run packets + end-of-line/bitmap
    escapes, bottom-up as the spec requires, per-packet bounds checks
    (``_bmp_rle8_decode``); same stats operator via the seam
    (``decode_bmp_rgb`` dispatches on biCompression). Fixtures widen to
    w = 313 so every scanline carries dozens of packets; lossless ->
    the oracle restates index/palette formulas. Unit
    twins hand-craft absolute-mode and delta escapes
    (test_bmp_rle8_escapes_and_rejects)."""
    import numpy as np

    from ..operators.multimodal import (
        decode_bmp_rgb,
        encode_bmp_rle8,
        extract_pixel_stats,
    )

    pal = [((3 * j + 5) % 256, (7 * j + 1) % 256, (11 * j + 4) % 256) for j in range(16)]
    rows = []
    for i in range(_N_PER_KIND):
        w, h = 26 + 41 * i, 15 + 2 * i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        idx = (((x // 5) + 2 * y + 3 * i) % 16).astype(np.uint8)
        payload = encode_bmp_rle8(idx, pal)
        rows.append((2600 + i, payload, "image/bmp", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media, decoder=decode_bmp_rgb).orderBy("media_id")


# Media near-dup CLUSTERS oracle: the dHash machinery (shared CTE shape
# with the pair oracles) feeds a recursive-CTE transitive closure, so
# the banded candidate generation, the hamming verify, AND the
# iterative min-label propagation must all agree for the hash to match.
# Fixtures form CHAINS (base, base+p1, base+p1+p2): adjacent members are
# <= 2 bits apart but chain ends may exceed the pairing bound, so the
# closure is doing real work — a-b and b-c land in one cluster even
# when a-c was never a direct pair.
MEDIA_CLUSTERS_ORACLE = """
WITH RECURSIVE imgs AS (
  SELECT 2700 + 10*i + m AS media_id, i, m, 36 + 4*i AS w, 24 + 4*i AS h
  FROM (SELECT unnest(range(4)) AS i), (SELECT unnest(range(3)) AS m)
  UNION ALL
  SELECT 2740 + i, 8 + i, 0, 40 + 4*i, 28 + 4*i
  FROM (SELECT unnest(range(2)) AS i)
),
gray AS (
  SELECT g.media_id, (ux.x*9)//g.w AS cx, (uy.y*8)//g.h AS cy,
         CASE WHEN g.i >= 8
              THEN (5*ux.x + 2*uy.y + 13*g.i) % 190
              ELSE ((2 + g.i)*ux.x + (3 + 2*g.i)*uy.y + 7*g.i) % 200
                   + CASE WHEN g.m >= 1 AND (ux.x*9)//g.w = 4
                               AND (uy.y*8)//g.h = 3 THEN 40 ELSE 0 END
                   + CASE WHEN g.m >= 2 AND (ux.x*9)//g.w = 2
                               AND (uy.y*8)//g.h = 5 THEN 40 ELSE 0 END
         END AS v
  FROM imgs g,
       LATERAL (SELECT unnest(range(g.w)) AS x) ux,
       LATERAL (SELECT unnest(range(g.h)) AS y) uy
),
cells AS (
  SELECT media_id, cy, cx, SUM(v) // COUNT(*) AS c
  FROM gray GROUP BY media_id, cy, cx
),
bits AS (
  SELECT l.media_id, l.cy AS y, l.cx AS x,
         CASE WHEN r.c > l.c THEN 1 ELSE 0 END AS bit
  FROM cells l
  JOIN cells r ON r.media_id = l.media_id AND r.cy = l.cy AND r.cx = l.cx + 1
  WHERE l.cx < 8
),
chunks AS (
  SELECT media_id, (8*y + x) // 16 AS band,
         CAST(SUM(bit * (1 << ((8*y + x) % 16))) AS BIGINT) AS chunk
  FROM bits GROUP BY media_id, (8*y + x) // 16
),
hashes AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN band = 0 THEN chunk
                       WHEN band = 1 THEN chunk * 65536
                       WHEN band = 2 THEN chunk * 4294967296
                       ELSE (chunk - CASE WHEN chunk >= 32768 THEN 65536 ELSE 0 END)
                            * 281474976710656 END) AS BIGINT) AS dhash
  FROM chunks GROUP BY media_id
),
pairs AS (
  SELECT v.id_a, v.id_b FROM (
    SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
    FROM chunks a
    JOIN chunks b ON b.band = a.band AND b.chunk = a.chunk
                 AND a.media_id < b.media_id
  ) v
  JOIN hashes ha ON ha.media_id = v.id_a
  JOIN hashes hb ON hb.media_id = v.id_b
  WHERE bit_count(xor(ha.dhash, hb.dhash)) <= 3
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS id, src AS root FROM edges
  UNION
  SELECT e.dst AS id, r.root FROM reach r JOIN edges e ON e.src = r.id
)
SELECT CAST(id AS BIGINT) AS media_id, CAST(MIN(root) AS BIGINT) AS cluster_id
FROM reach GROUP BY id ORDER BY media_id
"""


@query(
    "media_neardup_clusters",
    survey="llm-multimodal,dedup-simhash,dedup-clusters,iterative,X6",
    oracle=MEDIA_CLUSTERS_ORACLE,
)
def media_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-duplicate CLUSTERS — pairs made transitive: REAL BMP
    decode -> dHash -> banded hamming pairs (``dhash_neardup_pairs``)
    -> iterative min-label propagation (``operators/graph.
    connected_components``), the same pairs->components composition the
    text pipeline uses, so multi-way duplicate groups resolve to ONE
    keeper even when chain ends were never a direct pair. Fixtures are
    three-member perturbation chains (base, +cell(4,3), +both cells):
    adjacent members sit <= 2 bits apart, chain ends may exceed the
    hamming bound — the closure is observable in the result. Two
    fresh-formula singletons prove non-members stay out."""
    import numpy as np

    from ..operators.multimodal import (
        decode_bmp_rgb,
        dhash_neardup_pairs,
        encode_bmp_rgb,
        extract_image_dhash,
    )
    from ..operators.graph import connected_components

    rows = []
    for i in range(4):
        w, h = 36 + 4 * i, 24 + 4 * i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        g0 = ((2 + i) * x + (3 + 2 * i) * y + 7 * i) % 200
        p1 = 40 * (((x * 9) // w == 4) & ((y * 8) // h == 3))
        p2 = 40 * (((x * 9) // w == 2) & ((y * 8) // h == 5))
        for m, g in enumerate((g0, g0 + p1, g0 + p1 + p2)):
            img = np.repeat(g[:, :, None], 3, axis=2).astype(np.uint8)
            rows.append((2700 + 10 * i + m, encode_bmp_rgb(img), "image/bmp"))
    for i in range(2):
        w, h = 40 + 4 * i, 28 + 4 * i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        g = (5 * x + 2 * y + 13 * (8 + i)) % 190
        img = np.repeat(g[:, :, None], 3, axis=2).astype(np.uint8)
        rows.append((2740 + i, encode_bmp_rgb(img), "image/bmp"))
    rows = [(mid, p, m, len(p), None) for mid, p, m in rows]
    media = _media_frame(spark, rows)
    hashes = extract_image_dhash(media, decoder=decode_bmp_rgb)
    pairs = dhash_neardup_pairs(hashes, max_hamming=3)
    return (
        connected_components(pairs, "id_a", "id_b")
        .select(
            F.col("id").cast("long").alias("media_id"),
            F.col("component").cast("long").alias("cluster_id"),
        )
        .orderBy("media_id")
    )


# Float-WAV oracle: fixtures store k * 2^-15 (k integer, exactly
# representable in float32), so the decoder's scale-by-32768 +
# round-half-up + clip lands on exact integers and the oracle is pure
# integer arithmetic — GREATEST/LEAST restate the clip; k sweeps past
# both rails so the clamp is under the hash.
AUDIO_FLOAT_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS k),
dims AS (
  SELECT k, 1 + (k % 2) AS channels, (901 + 100*k) * (1 + (k % 2)) AS n_samples
  FROM idx
),
s AS (
  SELECT d.k, d.channels, d.n_samples,
         GREATEST(LEAST(((7919 * (u.i + 17*d.k)) % 90000) - 45000, 32767), -32768) AS v
  FROM dims d, LATERAL (SELECT unnest(range(d.n_samples)) AS i) u
)
SELECT CAST(2800 + k AS BIGINT) AS media_id,
       CAST(channels AS INTEGER) AS channels,
       CAST(22050 AS INTEGER) AS sample_rate,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(MAX(ABS(v)) AS INTEGER) AS peak,
       SQRT(CAST(SUM(v * v) AS DOUBLE) / n_samples) AS rms
FROM s GROUP BY k, channels, n_samples ORDER BY media_id
"""


@query("audio_float_stats", survey="llm-multimodal,X6", oracle=AUDIO_FLOAT_ORACLE)
def audio_float_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IEEE-float WAV decode (format 3 at 32 bits — the DAW/export
    format), distributed: payloads scale by 32768 with round-half-up
    and clip to int16, then flow through the SAME stats operator as
    every other audio format. Fixtures store k * 2^-15 with k swept
    past both int16 rails, so the conversion is integer-exact and the
    CLAMP itself is under the oracle hash (GREATEST/LEAST restate it).
    Unit twin: test_wav_float32_decodes_with_scale_and_clip."""
    import numpy as np

    from ..operators.multimodal import encode_wav_float32, extract_audio_stats

    rows = []
    for k in range(_N_PER_KIND):
        channels = 1 + (k % 2)
        n = (901 + 100 * k) * channels
        i = np.arange(n, dtype=np.int64)
        kk = ((7919 * (i + 17 * k)) % 90000) - 45000
        f = (kk.astype(np.float64) * 2.0**-15).astype(np.float32)
        payload = encode_wav_float32(f, 22050, channels)
        rows.append((2800 + k, payload, "audio/wav", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_audio_stats(media).orderBy("media_id")


# GIF ANIMATION compositing oracle: compositing is lossless integer
# work — every composited canvas pixel is palette[j] for an index j the
# GIF89a rules determine from frame geometry, transparency parity, and
# the two disposal methods — so the oracle REPLAYS the compositing
# per-pixel in SQL (the same discipline as the scene-change oracle's
# LAG replay): frame 0 fills with a, frame 1 lays a checkerboard-
# transparent patch (opaque iff (x+y+l1+t1) odd), frame 2 paints an
# overlapping opaque patch after frame 1's region was restored-to-
# previous on odd fixtures (disposal 3), frame 3 shows frame 2's region
# restored-to-background on i%3==0 fixtures (disposal 2) plus a 1px
# background-colored stamp in the far corner. Every branch of the
# decoder's disposal/transparency state machine moves the hash.
GIF_ANIMATION_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (
  SELECT i, 16 + 2*i AS w, 12 + i AS h,
         1 + (i % 3) AS a, 4 + (i % 2) AS bb,
         2 + (i % 3) AS l1, 1 + (i % 2) AS t1,
         7 + (i % 4) AS fw1, 5 + (i % 3) AS fh1,
         CASE WHEN i % 2 = 1 THEN 3 ELSE 0 END AS d1,
         5 AS l2, 3 AS t2, 6 + (i % 3) AS fw2, 4 + (i % 2) AS fh2,
         CASE WHEN i % 3 = 0 THEN 2 ELSE 0 END AS d2
  FROM idx
),
px AS (
  SELECT d.i, d.w, d.h, d.a, d.bb, d.d1, d.d2, ux.x, uy.y,
         (ux.x >= d.l1 AND ux.x < d.l1 + d.fw1
          AND uy.y >= d.t1 AND uy.y < d.t1 + d.fh1
          AND (ux.x + uy.y + d.l1 + d.t1) % 2 = 1) AS p1v,
         (ux.x >= d.l2 AND ux.x < d.l2 + d.fw2
          AND uy.y >= d.t2 AND uy.y < d.t2 + d.fh2) AS in2
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
),
fr AS (
  SELECT i, w, h, uk.k,
         CASE
           WHEN uk.k = 0 THEN a
           WHEN uk.k = 1 THEN CASE WHEN p1v THEN bb ELSE a END
           WHEN uk.k = 2 THEN CASE WHEN in2 THEN 6
                                   WHEN d1 = 3 THEN a
                                   WHEN p1v THEN bb ELSE a END
           ELSE CASE WHEN x = w - 1 AND y = h - 1 THEN 0
                     WHEN d2 = 2 AND in2 THEN 0
                     WHEN in2 THEN 6
                     WHEN d1 = 3 THEN a
                     WHEN p1v THEN bb ELSE a END
         END AS j
  FROM px, LATERAL (SELECT unnest(range(4)) AS k) uk
),
rgb AS (
  SELECT i, w, h, k,
         (5*j + 3) % 256 AS r, (9*j + 2) % 256 AS g, (13*j + 7) % 256 AS b
  FROM fr
)
SELECT CAST(1800 + i AS BIGINT) AS media_id,
       CAST(k AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h, k ORDER BY media_id, frame_idx
"""


@query("gif_animation_stats", survey="llm-multimodal,X6", oracle=GIF_ANIMATION_ORACLE)
def gif_animation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF89a ANIMATION decode with full compositing, distributed —
    the capability the still profile (``gif_pixel_stats``) deliberately
    excludes: partial-canvas frames placed at (left, top), Graphic
    Control Extension TRANSPARENCY (transparent pixels leave the canvas
    untouched), and DISPOSAL methods 1 (leave), 2 (restore region to
    background) and 3 (restore to previous). Scraped animations are
    patch streams over a canvas; per-frame training samples only exist
    after this composite, so the operator emits one row per composited
    CANVAS state (``extract_gif_animation_stats`` — exact int64 channel
    sums, Arrow-batched mapInPandas, O(frames) rows out).

    Fixtures sweep the state machine: frame 1's checkerboard-transparent
    patch pins the transparency mask, odd fixtures dispose it with
    restore-to-previous (frame 2 must NOT show the patch), i%3==0
    fixtures dispose frame 2's overlapping opaque patch with restore-to-
    background (frame 3 shows the background hole), and a 1px corner
    stamp pins placement arithmetic. The oracle replays the compositing
    per-pixel in SQL; a wrong disposal branch, transparency polarity, or
    placement offset moves a channel sum. Decoder caps/fuzz:
    test_multimodal."""
    import numpy as np

    from ..operators.multimodal import (
        encode_gif_animation,
        extract_gif_animation_stats,
    )

    pal = [((5 * j + 3) % 256, (9 * j + 2) % 256, (13 * j + 7) % 256) for j in range(8)]
    rows = []
    for i in range(_N_PER_KIND):
        w, h = 16 + 2 * i, 12 + i
        a, b_ix = 1 + (i % 3), 4 + (i % 2)
        l1, t1 = 2 + (i % 3), 1 + (i % 2)
        fw1, fh1 = 7 + (i % 4), 5 + (i % 3)
        l2, t2 = 5, 3
        fw2, fh2 = 6 + (i % 3), 4 + (i % 2)
        xl, yl = np.meshgrid(np.arange(fw1), np.arange(fh1))
        patch1 = np.where((xl + yl) % 2 == 1, b_ix, 7).astype(np.uint8)
        frames = [
            {"indices": np.full((h, w), a, np.uint8)},
            {
                "indices": patch1,
                "left": l1,
                "top": t1,
                "transparent": 7,
                "disposal": 3 if i % 2 == 1 else 0,
            },
            {
                "indices": np.full((fh2, fw2), 6, np.uint8),
                "left": l2,
                "top": t2,
                "disposal": 2 if i % 3 == 0 else 0,
            },
            {"indices": np.full((1, 1), 0, np.uint8), "left": w - 1, "top": h - 1},
        ]
        payload = encode_gif_animation((w, h), pal, frames, bg_index=0)
        rows.append((1800 + i, payload, "image/gif", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_gif_animation_stats(media).orderBy("media_id", "frame_idx")


# TIFF predictor-2 oracle: horizontal differencing is a lossless,
# row-local transform (decoder re-accumulates deltas mod 256), so the
# oracle restates the PIXEL formula directly — if the cumsum is wrong
# anywhere (wrap handling, per-sample interleave, strip boundaries) a
# channel sum moves. The (3+i)*x term guarantees per-row constant deltas
# (the layout predictor 2 exists to create for LZW) AND mod-256 wraps
# inside every row. Even fixtures grayscale (channel term vanishes), odd
# RGB with per-channel offsets (the per-SAMPLE differencing is under the
# hash, not just per-byte).
TIFF_PREDICTOR_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 19 + 2*i AS w, 13 + i AS h, i % 2 AS rgb FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         (23*uy.y + (3 + d.i)*ux.x + 11*d.i) % 256 AS r,
         (23*uy.y + (3 + d.i)*ux.x + 11*d.i + 91*d.rgb) % 256 AS g,
         (23*uy.y + (3 + d.i)*ux.x + 11*d.i + 182*d.rgb) % 256 AS b
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
)
SELECT CAST(2900 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM px GROUP BY i, w, h ORDER BY media_id
"""


@query(
    "tiff_predictor_pixel_stats",
    survey="llm-multimodal,X6",
    oracle=TIFF_PREDICTOR_ORACLE,
)
def tiff_predictor_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF LZW + PREDICTOR 2 decode, distributed — horizontal
    differencing (TIFF 6.0 §14, tag 317), the layout libtiff writes for
    LZW by default, so real scanned-document TIFFs carry it far more
    often than raw LZW: each row is stored as per-SAMPLE deltas and the
    decoder re-accumulates left-to-right mod 256 after decompression.
    Fixtures: per-row constant deltas (what the predictor exists to
    create) that wrap mod 256 inside every row; even fixtures grayscale,
    odd RGB (channel-interleaved differencing), both byte orders,
    multi-strip with a ragged final strip. Same stats operator through
    the ``decoder=`` seam. Unit twin: test_tiff_predictor2 (round-trips
    across every compression, wrap case, predictor-3 rejection)."""
    import numpy as np

    from ..operators.multimodal import (
        decode_tiff_rgb,
        encode_tiff,
        extract_pixel_stats,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 19 + 2 * i, 13 + i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        base = 23 * y + (3 + i) * x + 11 * i
        if i % 2 == 0:
            img = (base % 256).astype(np.uint8)
        else:
            img = np.stack(
                [(base + 91 * c) % 256 for c in range(3)], axis=-1
            ).astype(np.uint8)
        order = "II" if i < 4 else "MM"
        payload = encode_tiff(
            img, order=order, rows_per_strip=5, compression=5, predictor=2
        )
        rows.append((2900 + i, payload, "image/tiff", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media, decoder=decode_tiff_rgb).orderBy("media_id")


# Stereo-downmix oracle: de-interleave + floor((L+R)/2) are exact integer
# operations, so the oracle restates the per-sample PCM formulas and the
# downmix verbatim (pmod trick for FLOOR on negative odd sums — the
# box_downsample_pcm convention). Fixtures k%4==3 are MONO (the
# pass-through branch is under the hash too); everything else full-range
# stereo where L and R come from different generators, so a swapped or
# averaged-wrong channel moves sum_l/sum_r/sum_mix independently.
AUDIO_DOWNMIX_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS k),
dims AS (
  SELECT k, CASE WHEN k % 4 = 3 THEN 1 ELSE 2 END AS channels,
         8000 + 500*k AS rate, 601 + 50*k AS n
  FROM idx
),
s AS (
  SELECT d.k, d.channels, d.rate, d.n, u.i,
         ((7919 * (u.i + 11*d.k)) % 65536) - 32768 AS l,
         ((104729 * (u.i + 7*d.k)) % 65536) - 32768 AS r
  FROM dims d, LATERAL (SELECT unnest(range(d.n)) AS i) u
),
m AS (
  SELECT k, channels, rate, n,
         l,
         CASE WHEN channels = 2 THEN r END AS r,
         CASE WHEN channels = 2
              THEN (l + r - (((l + r) % 2) + 2) % 2) // 2
              ELSE l END AS mix
  FROM s
)
SELECT CAST(3000 + k AS BIGINT) AS media_id,
       CAST(channels AS INTEGER) AS channels,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(n AS BIGINT) AS n_frames,
       CAST(SUM(l) AS BIGINT) AS sum_l,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(mix) AS BIGINT) AS sum_mix,
       CAST(SUM(abs(mix)) AS BIGINT) AS sum_abs_mix,
       CAST(MAX(abs(mix)) AS INTEGER) AS peak_mix,
       CAST(SUM(mix) AS DOUBLE) / n AS mean_mix
FROM m GROUP BY k, channels, rate, n ORDER BY media_id
"""


@query(
    "audio_stereo_downmix_stats",
    survey="llm-multimodal,X6",
    oracle=AUDIO_DOWNMIX_ORACLE,
)
def audio_stereo_downmix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stereo -> mono DOWNMIX over the real PCM decode, distributed — the
    channel-normalization pass audio training corpora run before
    featurization (models consume mono; crawl audio is mostly stereo):
    ``extract_audio_channel_stats`` de-interleaves the decode into L/R
    planes, downmixes as floor((L+R)/2) (FLOOR, not truncate — negative
    odd sums divide identically to SQL), and emits per-channel sums
    alongside mix magnitude/peak/mean. Fixtures: full-range int16
    stereo with INDEPENDENT L/R generators (channel swap or wrong
    averaging moves different sums), two mono fixtures pinning the
    pass-through branch. Unit twin: test_audio_channel_stats_downmix."""
    import numpy as np

    from ..operators.multimodal import (
        encode_wav_pcm,
        extract_audio_channel_stats,
    )

    rows = []
    for k in range(_N_PER_KIND):
        channels = 1 if k % 4 == 3 else 2
        rate, n = 8000 + 500 * k, 601 + 50 * k
        i = np.arange(n, dtype=np.int64)
        left = ((7919 * (i + 11 * k)) % 65536) - 32768
        if channels == 2:
            right = ((104729 * (i + 7 * k)) % 65536) - 32768
            inter = np.empty(2 * n, dtype=np.int16)
            inter[0::2], inter[1::2] = left, right
        else:
            inter = left.astype(np.int16)
        payload = encode_wav_pcm(inter, rate, channels)
        rows.append((3000 + k, payload, "audio/wav", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_audio_channel_stats(media).orderBy("media_id")


# Adam7 oracle: interlacing is a lossless REORDERING (seven sub-images
# on the spec's pass grid, each filtered independently), so a correct
# de-interleave reproduces the pixel formula exactly and the oracle
# restates it directly — while a pass-grid, pass-order, or per-pass
# filter-reset mistake scrambles positions and moves the position-
# dependent sums. Fixtures cycle all five filters by row WITHIN each
# pass and cover all three color types; widths/heights are NOT
# multiples of 8, so the ragged passes (and empty-pass arithmetic on
# the smallest fixture) are under the hash.
PNG_ADAM7_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, CASE WHEN i = 0 THEN 3 ELSE 23 + 3*i END AS w,
                CASE WHEN i = 0 THEN 2 ELSE 17 + 2*i END AS h,
                i % 3 AS kind
         FROM idx),
px AS (
  SELECT d.i, d.w, d.h, d.kind, ux.x, uy.y,
         (2*ux.x + 3*uy.y + 5*d.i) % 16 AS j,
         (4*ux.x + 9*uy.y + 6*d.i) % 256 AS gv
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
),
rgb AS (
  SELECT i, w, h,
         CASE kind WHEN 0 THEN (5*j + 2) % 256 WHEN 1 THEN gv
                   ELSE (3*x + 7*y + 11*i) % 256 END AS r,
         CASE kind WHEN 0 THEN (9*j + 6) % 256 WHEN 1 THEN gv
                   ELSE (5*x + 2*y + 13*i) % 256 END AS g,
         CASE kind WHEN 0 THEN (13*j + 3) % 256 WHEN 1 THEN gv
                   ELSE (7*x + 4*y + 3*i) % 256 END AS b
  FROM px
)
SELECT CAST(3100 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM rgb GROUP BY i, w, h ORDER BY media_id
"""


@query(
    "png_adam7_pixel_stats",
    survey="llm-multimodal,X6",
    oracle=PNG_ADAM7_ORACLE,
)
def png_adam7_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAM7-INTERLACED PNG decode, distributed — the seven-pass
    progressive layout web exports still carry: each pass is an
    independent sub-image on the spec's pass grid (its own per-row
    filters, prior row reset per PASS), unfiltered and scattered into
    the canvas. Fixtures cover all three alpha-free color types
    (indexed / grayscale / truecolor, i%3), cycle all five filters by
    row within each pass, use non-multiple-of-8 dimensions so every
    ragged pass width is under the hash, and fixture 0 is 3x2 — small
    enough that several passes are EMPTY (the zero-scanline arithmetic
    the expected-length check must get right). Same stats operator
    (``extract_pixel_stats``, default decoder); the position-dependent
    pixel formulas mean a pass-grid or de-interleave mistake moves the
    sums. Unit twin: the Adam7 round-trip matrix in test_multimodal."""
    import numpy as np

    from ..operators.multimodal import (
        encode_png_gray,
        encode_png_indexed,
        encode_png_rgb,
        extract_pixel_stats,
    )

    pal = [((5 * j + 2) % 256, (9 * j + 6) % 256, (13 * j + 3) % 256) for j in range(16)]
    rows = []
    for i in range(_N_PER_KIND):
        w, h = (3, 2) if i == 0 else (23 + 3 * i, 17 + 2 * i)
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        kind = i % 3
        if kind == 0:
            idx = ((2 * x + 3 * y + 5 * i) % 16).astype(np.uint8)
            payload = encode_png_indexed(idx, pal, interlace=True)
        elif kind == 1:
            g = ((4 * x + 9 * y + 6 * i) % 256).astype(np.uint8)
            payload = encode_png_gray(g, interlace=True)
        else:
            rgb = np.stack(
                [
                    (3 * x + 7 * y + 11 * i) % 256,
                    (5 * x + 2 * y + 13 * i) % 256,
                    (7 * x + 4 * y + 3 * i) % 256,
                ],
                axis=-1,
            ).astype(np.uint8)
            payload = encode_png_rgb(rgb, interlace=True)
        rows.append((3100 + i, payload, "image/png", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media).orderBy("media_id")


# WARC oracle: framing is lossless (Content-Length framed bodies through
# per-record gzip members), so the oracle restates the record-synthesis
# formulas directly — types by position, bodies as repeat() strings whose
# lengths AND md5s both engines derive identically (ASCII, codepoints =
# bytes). A framing bug (member resync, Content-Length trust, terminator
# skip) moves the canonical type:length CSV md5; a body corruption moves
# the concatenated-conversion-text md5.
WARC_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
recs AS (
  SELECT d.i, uj.j,
         CASE WHEN uj.j = 0 THEN 'warcinfo'
              WHEN uj.j % 2 = 1 THEN 'conversion'
              ELSE 'metadata' END AS t,
         repeat('doc-' || d.i || '-' || uj.j || ' ', 5 + uj.j) AS body
  FROM (SELECT i, 3 + (i % 3) AS nr FROM idx) d,
       LATERAL (SELECT unnest(range(d.nr)) AS j) uj
)
SELECT CAST(4000 + i AS BIGINT) AS media_id,
       CAST(COUNT(*) AS INTEGER) AS n_records,
       CAST(SUM(CASE WHEN t = 'conversion' THEN 1 ELSE 0 END) AS INTEGER)
         AS n_conversion,
       CAST(SUM(length(body)) AS BIGINT) AS total_body_bytes,
       CAST(MAX(length(body)) AS BIGINT) AS max_body_bytes,
       md5(string_agg(t || ':' || length(body), ',' ORDER BY j)) AS records_md5,
       md5(string_agg(CASE WHEN t = 'conversion' THEN body ELSE '' END,
                      '' ORDER BY j)) AS text_md5
FROM recs GROUP BY i ORDER BY media_id
"""


@query("warc_extract_stats", survey="llm-multimodal,X6", oracle=WARC_ORACLE)
def warc_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/WET web-archive record extraction, distributed — the Common
    Crawl ingestion shape a 100 TB text pipeline starts from: archives
    arrive as per-record GZIP MEMBERS (so splitters resync on member
    boundaries), each member a WARC/1.0 header block + Content-Length-
    framed body + CRLF CRLF terminator (ISO 28500). The operator
    (``operators/webarchive.extract_warc_stats``) inflates members with
    stdlib zlib (wbits=31, decode-bomb capped), parses the framing
    WITHOUT trusting anything it can derive, and emits per archive the
    record/conversion counts, body byte totals, the canonical
    type:length CSV md5 (framing under the hash) and the md5 of the
    concatenated conversion bodies (content under the hash). Even
    fixtures are gzip-membered, odd are plain concatenation — both
    layouts in profile; corruption honesty (truncated members, bad
    Content-Length, missing terminators -> whole-item NULL) is
    unit-pinned in test_webarchive."""
    from ..operators.webarchive import encode_warc, extract_warc_stats

    rows = []
    for i in range(_N_PER_KIND):
        nr = 3 + (i % 3)
        recs = []
        for j in range(nr):
            t = "warcinfo" if j == 0 else ("conversion" if j % 2 == 1 else "metadata")
            body = (f"doc-{i}-{j} " * (5 + j)).encode()
            recs.append(
                (
                    {"WARC-Type": t, "WARC-Record-ID": f"<urn:uuid:{i}-{j}>"},
                    body,
                )
            )
        payload = encode_warc(recs, gzip_members=(i % 2 == 0))
        rows.append((4000 + i, payload, "application/warc", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_warc_stats(media).orderBy("media_id")


# WARC-to-documents oracle: the one-to-many explode is deterministic
# framing, so the oracle regenerates the record grid and restates the
# per-record text features (lengths, whitespace token counts, md5s) from
# the repeat() formulas — the record ORDER (rec_idx) and the
# conversion-only text policy are both under the hash.
WARC_DOCS_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
recs AS (
  SELECT d.i, uj.j,
         CASE WHEN uj.j = 0 THEN 'warcinfo'
              WHEN uj.j % 2 = 1 THEN 'conversion'
              ELSE 'metadata' END AS t,
         repeat('doc-' || d.i || '-' || uj.j || ' ', 5 + uj.j) AS body
  FROM (SELECT i, 3 + (i % 3) AS nr FROM idx) d,
       LATERAL (SELECT unnest(range(d.nr)) AS j) uj
)
SELECT CAST(4100 + i AS BIGINT) AS media_id,
       CAST(j AS INTEGER) AS rec_idx,
       t AS warc_type,
       CASE WHEN t = 'conversion' THEN 'http://ex/' || i || '/' || j END AS target_uri,
       CAST(length(body) AS BIGINT) AS content_length,
       CASE WHEN t = 'conversion' THEN CAST(length(body) AS BIGINT) END AS n_chars,
       CASE WHEN t = 'conversion'
            THEN CAST(len(regexp_split_to_array(trim(body), '\\s+')) AS INTEGER) END
         AS n_tokens,
       CASE WHEN t = 'conversion' THEN md5(body) END AS text_md5
FROM recs ORDER BY media_id, rec_idx
"""


@query("warc_to_documents", survey="llm-multimodal,X6,UDTF", oracle=WARC_DOCS_ORACLE)
def warc_to_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET archive -> documents-table explode, distributed — the
    one-to-many SOURCE primitive (``operators/webarchive.
    warc_text_records``) that starts every crawl-text pipeline: each
    archive's records become rows (framing columns for every record,
    strict-UTF-8 body text for conversion records only), then the
    text-feature projection every downstream gate consumes (codepoint
    length, whitespace token count, content md5) runs JVM-side on the
    extracted column. Composes with the in-window gates exactly like
    the synthetic documents table — this query externally pins the
    EXPLODE (record order, conversion-only text policy, framing
    passthrough), the per-archive stats twin pins the aggregates.
    Fixture bodies are repeat() formulas, so the oracle regenerates
    everything; gzip-member and plain layouts alternate by fixture."""
    from pyspark.sql import functions as SF

    from ..operators.webarchive import encode_warc, warc_text_records

    rows = []
    for i in range(_N_PER_KIND):
        nr = 3 + (i % 3)
        recs = []
        for j in range(nr):
            t = "warcinfo" if j == 0 else ("conversion" if j % 2 == 1 else "metadata")
            hdr = {"WARC-Type": t, "WARC-Record-ID": f"<urn:uuid:{i}-{j}>"}
            if t == "conversion":
                hdr["WARC-Target-URI"] = f"http://ex/{i}/{j}"
            recs.append((hdr, (f"doc-{i}-{j} " * (5 + j)).encode()))
        payload = encode_warc(recs, gzip_members=(i % 2 == 0))
        rows.append((4100 + i, payload, "application/warc", len(payload), None))
    media = _media_frame(spark, rows)
    recs_df = warc_text_records(media)
    return recs_df.select(
        "media_id",
        "rec_idx",
        "warc_type",
        "target_uri",
        "content_length",
        SF.length("body_text").cast("long").alias("n_chars"),
        SF.when(
            SF.col("body_text").isNotNull(),
            SF.size(SF.split(SF.trim(SF.col("body_text")), r"\s+")),
        ).alias("n_tokens"),
        SF.md5(SF.col("body_text").cast("binary")).alias("text_md5"),
    ).orderBy("media_id", "rec_idx")


# WARC ingest-pipeline oracle: the end-to-end routing table is replayed
# in SQL -- record grid regeneration, artifact injection by position,
# the encoding gate verbatim (replacement chars; PAIR-anchored mojibake;
# C0 controls), then exact dedup over the surviving docs with the
# min-(archive, record) keeper rule as a window. The duplicate pair
# SPANS archives, so the route is only right if extraction, gating and
# dedup compose -- the integration seam none of the per-operator WARC
# oracles exercises (the e2e_daily_pipeline discipline, applied to the
# crawl-ingest path).
WARC_PIPELINE_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
grid AS (
  SELECT d.i, uj.j
  FROM (SELECT i, 2 + (i % 3) AS nc FROM idx) d,
       LATERAL (SELECT 1 + unnest(range(d.nc)) AS j) uj
),
docs AS (
  SELECT i, j, 'http://ex/' || i || '/' || j AS uri,
         CASE
           WHEN j = 1 AND i IN (2, 5) THEN repeat('shared duplicate text ', 8)
           WHEN j = 2 THEN 'caf' || chr(195) || chr(169) || ' ' ||
                           repeat('doc-' || i || '-' || j || ' ', 6 + j)
           WHEN j = 3 THEN repeat('doc-' || i || '-' || j || ' ', 6 + j)
                           || chr(1) || 'tail'
           ELSE repeat('doc-' || i || '-' || j || ' ', 6 + j)
         END AS text
  FROM grid
),
gated AS (
  SELECT i, j, uri, text,
         CASE WHEN length(text) - length(replace(text, '\uFFFD', '')) > 0
                   OR len(regexp_extract_all(text, '\u00c3[\u0080-\u00bf]')) > 0
              THEN 'bad_encoding'
              WHEN length(text) - length(replace(text, chr(1), '')) > 0
              THEN 'suspect'
              ELSE 'ok' END AS gate
  FROM docs
),
ranked AS (
  SELECT i, j, row_number() OVER (PARTITION BY md5(text) ORDER BY i, j) AS rn
  FROM gated WHERE gate <> 'bad_encoding'
),
final AS (
  SELECT g.i, g.j, g.uri, g.text,
         CASE WHEN g.gate = 'bad_encoding' THEN 'bad_encoding'
              WHEN r.rn > 1 THEN 'dup_exact'
              ELSE g.gate END AS status
  FROM gated g LEFT JOIN ranked r ON r.i = g.i AND r.j = g.j
)
SELECT CAST(4200 + i AS BIGINT) AS media_id,
       CAST(j AS INTEGER) AS rec_idx,
       uri AS target_uri,
       status,
       status IN ('ok', 'suspect') AS kept,
       CASE WHEN status IN ('ok', 'suspect')
            THEN CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER)
       END AS n_tokens
FROM final ORDER BY media_id, rec_idx
"""


@query(
    "warc_ingest_pipeline",
    survey="llm-pipeline-e2e,llm-multimodal,llm-quality,F2,X6",
    oracle=WARC_PIPELINE_ORACLE,
)
def warc_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CRAWL-INGEST pipeline -- the WARC twin of
    e2e_daily_pipeline's integration seam: landed WET archives ->
    record explode (``warc_text_records``) -> encoding-health gate
    (replacement chars, PAIR-anchored mojibake, C0 controls -- the
    encoding_quality_gate expressions on extracted text) -> exact
    dedup over the survivors (md5 grouping, min-(archive, record)
    keeper via one partitioned window), emitting the full per-record
    routing table: bad_encoding / dup_exact / suspect / ok, kept flag,
    and token counts for kept docs. The planted duplicate SPANS
    archives and the keeper rule crosses them, so the hash only
    matches if extraction, gating and dedup COMPOSE -- none of the
    per-operator WARC oracles checks that. The gate+dedup stage is the
    shared ``crawl_route_records`` operator (also the streaming twin's
    per-batch body), here with its defaults: no persisted index, URL
    canonicalization off (``canonical_urls=True`` adds the URL-level
    hygiene stage — equivalence unit-pinned in test_webarchive.py).
    Everything after the Arrow-batched explode is JVM expressions + one
    window partitioned by content hash (no Python in the pipeline body,
    plan-linted)."""
    from pyspark.sql import functions as SF

    from ..operators.webarchive import (
        crawl_route_records,
        encode_warc,
        warc_text_records,
    )

    rows = []
    for i in range(_N_PER_KIND):
        nc = 2 + (i % 3)
        recs = [({"WARC-Type": "warcinfo"}, b"software: ingest\r\n")]
        for j in range(1, nc + 1):
            base = f"doc-{i}-{j} " * (6 + j)
            if j == 1 and i in (2, 5):
                text = "shared duplicate text " * 8
            elif j == 2:
                text = "caf\u00c3\u00a9 " + base
            elif j == 3:
                text = base + "\u0001tail"
            else:
                text = base
            recs.append(
                (
                    {
                        "WARC-Type": "conversion",
                        "WARC-Target-URI": f"http://ex/{i}/{j}",
                    },
                    text.encode("utf-8"),
                )
            )
        payload = encode_warc(recs, gzip_members=(i % 2 == 0))
        rows.append((4200 + i, payload, "application/warc", len(payload), None))
    media = _media_frame(spark, rows)
    docs = warc_text_records(media).filter(SF.col("warc_type") == "conversion")
    out = crawl_route_records(docs).select(
        "media_id", "rec_idx", "target_uri", "status", "kept", "n_tokens"
    )
    return out.orderBy("media_id", "rec_idx")


from .textops import canonical_url_sql_ctes

CRAWL_URL_HYGIENE_ORACLE = (
    """
WITH idx AS (SELECT unnest(range(8)) AS i),
grid AS (
  SELECT d.i, uj.j
  FROM (SELECT i, 2 + (i % 3) AS nc FROM idx) d,
       LATERAL (SELECT 1 + unnest(range(d.nc)) AS j) uj
),
docs AS (
  SELECT i, j,
         CASE
           WHEN j = 1 AND i = 2 THEN 'http://EX/shared/art?b=2&a=1'
           WHEN j = 1 AND i = 5
             THEN 'HTTP://ex:80/shared/art/?utm_source=x&a=1&b=2#frag'
           ELSE 'http://ex/' || i || '/' || j
         END AS uri,
         CASE
           WHEN j = 1 AND i = 2 THEN repeat('variant-one 2 ', 7)
           WHEN j = 1 AND i = 5 THEN repeat('variant-two 5 ', 7)
           WHEN j = 1 AND i IN (3, 6) THEN repeat('shared body text ', 8)
           WHEN j = 2 THEN 'caf' || chr(195) || chr(169) || ' ' ||
                           repeat('doc-' || i || '-2 ', 8)
           WHEN j = 3 THEN repeat('doc-' || i || '-3 ', 9) || chr(1) || 'tail'
           ELSE repeat('doc-' || i || '-' || j || ' ', 10)
         END AS text
  FROM grid
),
gated AS (
  SELECT i, j, uri, text,
         CASE WHEN length(text) - length(replace(text, '\ufffd', '')) > 0
                   OR len(regexp_extract_all(text, '\u00c3[\u0080-\u00bf]')) > 0
              THEN 'bad_encoding'
              WHEN length(text) - length(replace(text, chr(1), '')) > 0
              THEN 'suspect'
              ELSE 'ok' END AS gate
  FROM docs
),
surv AS (SELECT i, j, uri, text FROM gated WHERE gate <> 'bad_encoding'),"""
    + canonical_url_sql_ctes("surv", "i, j", "uri")
    + """,
url_ranked AS (
  SELECT i, j,
         row_number()   OVER (PARTITION BY canonical_url ORDER BY i, j) AS urn,
         first_value(i) OVER (PARTITION BY canonical_url ORDER BY i, j) AS uf_i,
         first_value(j) OVER (PARTITION BY canonical_url ORDER BY i, j) AS uf_j
  FROM canon
),
content AS (
  SELECT s.i, s.j,
         row_number()     OVER (PARTITION BY md5(s.text) ORDER BY s.i, s.j) AS rn,
         first_value(s.i) OVER (PARTITION BY md5(s.text) ORDER BY s.i, s.j) AS f_i,
         first_value(s.j) OVER (PARTITION BY md5(s.text) ORDER BY s.i, s.j) AS f_j
  FROM surv s JOIN url_ranked u ON u.i = s.i AND u.j = s.j AND u.urn = 1
),
final AS (
  SELECT g.i, g.j, g.uri, g.text,
         CASE WHEN g.gate = 'bad_encoding' THEN 'bad_encoding'
              WHEN u.urn > 1 THEN 'dup_url'
              WHEN c.rn > 1 THEN 'dup_exact'
              ELSE g.gate END AS status,
         CASE WHEN g.gate <> 'bad_encoding' AND u.urn > 1 THEN u.uf_i
              WHEN g.gate <> 'bad_encoding' AND c.rn > 1 THEN c.f_i END AS m_i,
         CASE WHEN g.gate <> 'bad_encoding' AND u.urn > 1 THEN u.uf_j
              WHEN g.gate <> 'bad_encoding' AND c.rn > 1 THEN c.f_j END AS m_j
  FROM gated g
  LEFT JOIN url_ranked u ON u.i = g.i AND u.j = g.j
  LEFT JOIN content c ON c.i = g.i AND c.j = g.j
)
SELECT CAST(4300 + i AS BIGINT) AS media_id,
       CAST(j AS INTEGER) AS rec_idx,
       uri AS target_uri,
       status,
       status IN ('ok', 'suspect') AS kept,
       CASE WHEN status IN ('ok', 'suspect')
            THEN CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER)
       END AS n_tokens,
       CAST(4300 + m_i AS BIGINT) AS match_mid,
       CAST(m_j AS INTEGER) AS match_rec
FROM final ORDER BY media_id, rec_idx
"""
)


@query(
    "crawl_url_hygiene_pipeline",
    survey="llm-pipeline-e2e,llm-multimodal,F2,U3,X6",
    oracle=CRAWL_URL_HYGIENE_ORACLE,
)
def crawl_url_hygiene_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``warc_ingest_pipeline`` with the r15 ``canonical_urls=True`` knob
    under the oracle hash: landed WET archives -> record explode ->
    encoding gate -> URL-LEVEL hygiene (``canonicalize_url`` identity,
    first-seen keeper — a spelling re-crawl routes as ``dup_url`` with
    its content never hashed) -> exact content dedup over the URL
    survivors. The fixture plants BOTH duplicate kinds across archives:
    one page under two spellings (case/port/trailing-slash/utm/fragment)
    with DIFFERENT bodies — only URL identity catches it — and one body
    under two different URLs — only content identity catches it — so the
    hash matches only if the two stages compose in the right order with
    the right keepers. The oracle derives canonical URLs through the
    same shared SQL chain as ``url_canonical_dedup``
    (``canonical_url_sql_ctes``), so the Spark rule set and its
    restatement cannot drift apart."""
    from pyspark.sql import functions as SF

    from ..operators.webarchive import (
        crawl_route_records,
        encode_warc,
        warc_text_records,
    )

    rows = []
    for i in range(_N_PER_KIND):
        nc = 2 + (i % 3)
        recs = [({"WARC-Type": "warcinfo"}, b"software: ingest\r\n")]
        for j in range(1, nc + 1):
            if j == 1 and i == 2:
                uri, text = "http://EX/shared/art?b=2&a=1", "variant-one 2 " * 7
            elif j == 1 and i == 5:
                uri = "HTTP://ex:80/shared/art/?utm_source=x&a=1&b=2#frag"
                text = "variant-two 5 " * 7
            elif j == 1 and i in (3, 6):
                uri, text = f"http://ex/{i}/1", "shared body text " * 8
            elif j == 2:
                uri, text = f"http://ex/{i}/2", "caf\u00c3\u00a9 " + f"doc-{i}-2 " * 8
            elif j == 3:
                uri, text = f"http://ex/{i}/3", f"doc-{i}-3 " * 9 + "\u0001tail"
            else:
                uri, text = f"http://ex/{i}/{j}", f"doc-{i}-{j} " * 10
            recs.append(
                (
                    {"WARC-Type": "conversion", "WARC-Target-URI": uri},
                    text.encode("utf-8"),
                )
            )
        payload = encode_warc(recs, gzip_members=(i % 2 == 0))
        rows.append((4300 + i, payload, "application/warc", len(payload), None))
    media = _media_frame(spark, rows)
    docs = warc_text_records(media).filter(SF.col("warc_type") == "conversion")
    return crawl_route_records(docs, canonical_urls=True).select(
        "media_id", "rec_idx", "target_uri", "status", "kept", "n_tokens",
        "match_mid", "match_rec",
    ).orderBy("media_id", "rec_idx")


def _crawl_process_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch: int,
    state_dir: str,
    routed_dir: str,
    canonical_urls: bool = False,
) -> None:
    """One micro-batch of the streaming crawl-ingest loop: explode the
    landed archives, route every conversion record through the shared
    ``crawl_route_records`` stage against the index state visible at this
    epoch (one-sided md5 probe + in-batch keeper window), land the
    routing idempotently, and fold the kept docs' hashes back into the
    index APPEND-ONLY. With ``canonical_urls=True`` the routing gains the
    URL-level hygiene stage and the fold also persists each kept row's
    canonical URL, so a later batch's spelling re-crawl of a kept page
    routes as ``dup_url`` without its content ever being hashed.
    Module-level (not a closure) so the knob is directly testable;
    ``stream_crawl_ingest`` runs it with the default (off) under its
    driver oracle, and test_webarchive.py pins the knob's cross-batch
    equivalence."""
    from pyspark.sql import functions as SF

    from ..checkpointing import stage_checkpoint
    from ..functions.parsing import canonicalize_url
    from ..operators.webarchive import crawl_route_records, warc_text_records
    from ..streaming.idempotent import recover_compaction

    # Self-heal before the state read: a compaction swap a prior run's
    # crash left committed-but-unfinished makes epoch_read refuse loudly
    # (correct — the state would read incomplete), but refusing keeps the
    # resumed loop down until an operator intervenes. Finishing the
    # recorded swap here makes that refusal transient, at the cost of one
    # marker-existence metadata call per directory per batch when there is
    # nothing to recover. The semantic ingest twin does the same at stream
    # (re)start (plans/similarity.py _sem_ingest_process_batch); this loop
    # is stateless across batches, so the recovery runs per batch — which
    # also heals a crash of the BETWEEN-RUNS compact_epochs maintenance
    # call without waiting for a restart. Safe under the epoch sinks'
    # serial-schedule contract: while this batch runs, no other compaction
    # may be mid-swap.
    for d in (state_dir, routed_dir):
        recover_compaction(spark, d)

    docs = warc_text_records(batch).filter(SF.col("warc_type") == "conversion")
    state = epoch_read(spark, state_dir, before_epoch=epoch)
    routed = stage_checkpoint(
        crawl_route_records(docs, state=state, canonical_urls=canonical_urls)
    )
    epoch_write(
        routed.select(
            "media_id", "rec_idx", "target_uri", "status", "kept",
            "n_tokens", "match_mid", "match_rec",
        ),
        routed_dir,
        epoch,
    )
    # append-only fold: kept docs' hashes (and, with the knob on, their
    # canonical URLs) join the index
    kept = routed.filter(SF.col("kept"))
    fold_cols = [
        SF.md5(SF.col("body_text").cast("binary")).alias("h"),
        SF.col("media_id").alias("k_mid"),
        SF.col("rec_idx").alias("k_rec"),
    ]
    if canonical_urls:
        fold_cols.append(canonicalize_url(SF.col("target_uri")).alias("u"))
    epoch_write(kept.select(*fold_cols), state_dir, epoch)


# Streaming crawl-ingest oracle: the 4-batch state evolution collapses to
# one global composition BECAUSE the keeper rule is first-seen-wins and
# media ids increase with batch number -- the index preseed (archive
# 4390) and every batch's surviving docs pool together, and the global
# min-(archive, record) window reproduces exactly what the per-batch
# index probe + append-only fold must produce. The hash therefore only
# matches if the STREAMING execution's state evolved correctly: batch
# k's cross-batch duplicate must match the doc batch k-1 KEPT (and
# folded), the suspect doc from batch 0 must be probe-able in batch 3,
# and the intra-batch duplicate must resolve to its in-batch keeper.
STREAM_CRAWL_ORACLE = """
WITH seed AS (
  SELECT 4390 AS mid, uj.j, repeat('crawl-seed-' || uj.j || ' ', 6 + uj.j) AS text
  FROM (SELECT 1 + unnest(range(2)) AS j) uj
),
grid AS (
  SELECT uk.k, uj.j, 4400 + uk.k AS mid
  FROM (SELECT unnest(range(4)) AS k) uk,
       (SELECT 1 + unnest(range(3)) AS j) uj
),
stream AS (
  SELECT mid, k, j,
         CASE
           WHEN j = 1 THEN repeat('crawl-' || k || '-a ', 5 + k)
           WHEN j = 2 AND k = 0 THEN 'caf' || chr(195) || chr(169) || ' ' ||
                                     repeat('crawl-0-a ', 5)
           WHEN j = 2 AND k = 1 THEN repeat('crawl-seed-1 ', 7)
           WHEN j = 2 AND k = 2 THEN repeat('crawl-1-a ', 6)
           WHEN j = 2 AND k = 3 THEN repeat('crawl-3-a ', 8)
           WHEN j = 3 AND k = 0 THEN repeat('crawl-0-b ', 7) || chr(1) || 'tail'
           WHEN j = 3 AND k = 3 THEN repeat('crawl-0-b ', 7) || chr(1) || 'tail'
           ELSE repeat('crawl-' || k || '-b ', 7 + k)
         END AS text
  FROM grid
),
gated AS (
  SELECT mid, k, j, text,
         CASE WHEN length(text) - length(replace(text, '�', '')) > 0
                   OR len(regexp_extract_all(text, 'Ã[-¿]')) > 0
              THEN 'bad_encoding'
              WHEN length(text) - length(replace(text, chr(1), '')) > 0
              THEN 'suspect'
              ELSE 'ok' END AS gate
  FROM stream
),
pool AS (
  SELECT mid, j, text FROM seed
  UNION ALL
  SELECT mid, j, text FROM gated WHERE gate <> 'bad_encoding'
),
ranked AS (
  SELECT mid, j,
         row_number() OVER (PARTITION BY md5(text) ORDER BY mid, j) AS rn,
         first_value(mid) OVER (PARTITION BY md5(text) ORDER BY mid, j) AS f_mid,
         first_value(j) OVER (PARTITION BY md5(text) ORDER BY mid, j) AS f_rec
  FROM pool
),
final AS (
  SELECT g.mid, g.k, g.j, g.text,
         CASE WHEN g.gate = 'bad_encoding' THEN 'bad_encoding'
              WHEN r.rn > 1 THEN 'dup_exact'
              ELSE g.gate END AS status,
         CASE WHEN g.gate <> 'bad_encoding' AND r.rn > 1 THEN r.f_mid END AS match_mid,
         CASE WHEN g.gate <> 'bad_encoding' AND r.rn > 1 THEN r.f_rec END AS match_rec
  FROM gated g LEFT JOIN ranked r ON r.mid = g.mid AND r.j = g.j
)
SELECT CAST(mid AS BIGINT) AS media_id,
       CAST(j AS INTEGER) AS rec_idx,
       'http://crawl/' || k || '/' || j AS target_uri,
       status,
       status IN ('ok', 'suspect') AS kept,
       CASE WHEN status IN ('ok', 'suspect')
            THEN CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER)
       END AS n_tokens,
       CAST(match_mid AS BIGINT) AS match_mid,
       CAST(match_rec AS INTEGER) AS match_rec
FROM final ORDER BY media_id, rec_idx
"""


@query(
    "stream_crawl_ingest",
    survey="T1,X3,llm-pipeline-e2e,llm-multimodal,X6",
    oracle=STREAM_CRAWL_ORACLE,
)
def stream_crawl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming crawl ingest against an evolving content-hash index --
    the T1/X3 twin of ``warc_ingest_pipeline`` (reference shape: the
    scraping_orchestrator poll loops, scraping_orchestrator.py:311-331,
    landing crawler output continuously instead of daily). A REAL
    StreamingQuery (file source, one WARC archive per micro-batch,
    arrival order pinned by mtime) runs the full ingest per batch:
    record explode (``warc_text_records``) -> encoding-health gate ->
    EXACT dedup as a ONE-SIDED probe of the persisted md5 index (never
    a corpus self-join) plus an in-batch keeper window -> routing rows
    appended; each batch's KEPT docs fold their hashes back APPEND-ONLY
    (the ``stream_media_ingest_dedup`` discipline -- per-batch write
    cost O(batch), not O(corpus)). The fixtures force every state
    transition across batch boundaries: batch 1 re-crawls a preseeded
    corpus doc, batch 2 re-crawls a doc batch 1 kept, batch 3 both
    duplicates INTRA-batch and re-crawls the SUSPECT doc batch 0 kept
    (proving suspect docs entered the index), so the hash only matches
    if the index actually evolved batch by batch."""
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as SF

    from ..operators.webarchive import encode_warc, warc_text_records

    def conv(uri: str, text: str):
        return ({"WARC-Type": "conversion", "WARC-Target-URI": uri}, text.encode())

    def archive(mid: int, texts: list[tuple[str, str]], gz: bool) -> tuple:
        recs = [({"WARC-Type": "warcinfo"}, b"software: crawl\r\n")]
        recs += [conv(u, t) for u, t in texts]
        payload = encode_warc(recs, gzip_members=gz)
        return (mid, payload, "application/warc", len(payload), None)

    a_txt = lambda k: f"crawl-{k}-a " * (5 + k)
    b_txt = lambda k: f"crawl-{k}-b " * (7 + k)
    s_txt = b_txt(0) + "\x01tail"
    batch_texts = {
        0: [("http://crawl/0/1", a_txt(0)),
            ("http://crawl/0/2", "cafÃ© " + a_txt(0)),
            ("http://crawl/0/3", s_txt)],
        1: [("http://crawl/1/1", a_txt(1)),
            ("http://crawl/1/2", "crawl-seed-1 " * 7),
            ("http://crawl/1/3", b_txt(1))],
        2: [("http://crawl/2/1", a_txt(2)),
            ("http://crawl/2/2", a_txt(1)),
            ("http://crawl/2/3", b_txt(2))],
        3: [("http://crawl/3/1", a_txt(3)),
            ("http://crawl/3/2", a_txt(3)),
            ("http://crawl/3/3", s_txt)],
    }

    tmp = tempfile.mkdtemp(prefix="sdp_crawl_ingest_")
    try:
        in_dir, state_dir, routed_dir, ckpt = (
            f"{tmp}/in", f"{tmp}/state", f"{tmp}/routed", f"{tmp}/ckpt",
        )
        # preseed the index from the existing corpus archive -- every
        # conversion record's content hash, keyed by its (archive, record)
        corpus = spark.createDataFrame(
            [archive(
                4390,
                [(f"http://crawl/seed/{j}", f"crawl-seed-{j} " * (6 + j)) for j in (1, 2)],
                gz=True,
            )],
            MEDIA_SCHEMA,
        )
        epoch_write(
            warc_text_records(corpus)
            .filter(SF.col("warc_type") == "conversion")
            .select(
                SF.md5(SF.col("body_text").cast("binary")).alias("h"),
                SF.col("media_id").alias("k_mid"),
                SF.col("rec_idx").alias("k_rec"),
            ),
            state_dir,
            -1,
        )  # preseed: visible to all epochs

        for k in range(4):
            if k:
                _time.sleep(1.1)  # strictly increasing mtime -> batch order
            spark.createDataFrame(
                [archive(4400 + k, batch_texts[k], gz=(k % 2 == 0))], MEDIA_SCHEMA
            ).coalesce(1).write.mode("append").parquet(in_dir)

        schema = spark.read.parquet(in_dir).schema

        def route_batch(batch: DataFrame, epoch: int) -> None:
            # epoch-partitioned sinks (streaming/idempotent.py): replayed
            # epochs observe only completed predecessors and overwrite
            # their own partition — exactly-once observable folds. The
            # routing itself is the shared crawl_route_records stage
            # (module-level _crawl_process_batch; canonical_urls off here
            # — the knob's streaming equivalence is unit-pinned).
            _crawl_process_batch(spark, batch, epoch, state_dir, routed_dir)

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .writeStream.foreachBatch(route_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # maintenance between stream runs: roll completed epochs into the
        # base partition (one small file per epoch otherwise accrues over
        # an unbounded poll loop). The result read below runs AFTER the
        # roll-up, so the compaction's content-preservation is under the
        # same hash as the routing itself.
        compact_epochs(spark, state_dir, below_epoch=4)
        compact_epochs(spark, routed_dir, below_epoch=4)
        return stage_checkpoint(
            spark.read.parquet(routed_dir)
            .select(
                "media_id", "rec_idx", "target_uri", "status", "kept",
                "n_tokens", "match_mid", "match_rec",
            )
            .orderBy("media_id", "rec_idx")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# Deflate-TIFF oracle: zlib is lossless, so the oracle restates the pixel
# formula directly (the tiff_predictor discipline); odd fixtures ALSO run
# predictor 2 through the Deflate path, pinning the codec x predictor
# composition real TIFF writers emit (ImageMagick defaults to
# Deflate+predictor for RGB).
TIFF_DEFLATE_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
dims AS (SELECT i, 21 + 2*i AS w, 14 + i AS h, i % 2 AS rgb FROM idx),
px AS (
  SELECT d.i, d.w, d.h,
         (19*uy.y + (2 + d.i)*ux.x + 7*d.i) % 256 AS r,
         (19*uy.y + (2 + d.i)*ux.x + 7*d.i + 83*d.rgb) % 256 AS g,
         (19*uy.y + (2 + d.i)*ux.x + 7*d.i + 166*d.rgb) % 256 AS b
  FROM dims d,
       LATERAL (SELECT unnest(range(d.w)) AS x) ux,
       LATERAL (SELECT unnest(range(d.h)) AS y) uy
)
SELECT CAST(4300 + i AS BIGINT) AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * h AS BIGINT) AS n_px,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(g) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(b) AS DOUBLE) / (w * h) AS mean_b
FROM px GROUP BY i, w, h ORDER BY media_id
"""


@query(
    "tiff_deflate_pixel_stats",
    survey="llm-multimodal,X6",
    oracle=TIFF_DEFLATE_ORACLE,
)
def tiff_deflate_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deflate-compressed TIFF decode (compression 8, "Adobe Deflate" —
    zlib per strip, what ImageMagick/Photoshop write), distributed —
    the bounded-inflate discipline of the PNG IDAT path applied to TIFF
    strips (over-long, under-length, and trailing-garbage strips all
    reject). Even fixtures grayscale plain Deflate; odd fixtures RGB
    Deflate + PREDICTOR 2 — the codec x predictor composition real
    writers default to for RGB. Both byte orders, ragged multi-strip.
    Same stats operator through the ``decoder=`` seam; lossless formula
    oracle. Unit twin: test_tiff_deflate."""
    import numpy as np

    from ..operators.multimodal import (
        decode_tiff_rgb,
        encode_tiff,
        extract_pixel_stats,
    )

    rows = []
    for i in range(_N_PER_KIND):
        w, h = 21 + 2 * i, 14 + i
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        base = 19 * y + (2 + i) * x + 7 * i
        if i % 2 == 0:
            img = (base % 256).astype(np.uint8)
            pred = 1
        else:
            img = np.stack(
                [(base + 83 * c) % 256 for c in range(3)], axis=-1
            ).astype(np.uint8)
            pred = 2
        order = "II" if i < 4 else "MM"
        payload = encode_tiff(
            img, order=order, rows_per_strip=5, compression=8, predictor=pred
        )
        rows.append((4300 + i, payload, "image/tiff", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_pixel_stats(media, decoder=decode_tiff_rgb).orderBy("media_id")


# MP3-meta oracle: the frame walk is deterministic framing arithmetic
# (bitrate/samplerate tables + floor(coef*kbps/sr)+pad lengths), so the
# oracle regenerates the frame grid and restates frame counts, byte
# totals, mean bitrate and duration from the tables — ID3v2 skip and
# ID3v1 trailer removal are under the hash because a walker that
# miscounts them breaks audio_bytes.
MP3_META_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i),
conf AS (
  SELECT i,
         CASE WHEN i < 4 THEN '1' WHEN i < 7 THEN '2' ELSE '2.5' END AS ver,
         11 + i AS nf, i % 3 AS sidx
  FROM idx
),
conf2 AS (
  SELECT i, ver, nf,
         CASE ver WHEN '1' THEN [44100, 48000, 32000][sidx + 1]
                  WHEN '2' THEN [22050, 24000, 16000][sidx + 1]
                  ELSE [11025, 12000, 8000][sidx + 1] END AS sr,
         CASE WHEN ver = '1' THEN 144000 ELSE 72000 END AS coef,
         CASE WHEN ver = '1' THEN 1152 ELSE 576 END AS spf
  FROM conf
),
fr AS (
  SELECT c.i, c.ver, c.nf, c.sr, c.coef, c.spf, uk.k,
         CASE WHEN c.ver = '1'
              THEN [32,40,48,56,64,80,96,112,128,160,192,224,256,320][1 + ((uk.k + c.i) % 14)]
              ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160][1 + ((uk.k + c.i) % 14)]
         END AS kbps,
         (uk.k % 2) AS pad
  FROM conf2 c, LATERAL (SELECT unnest(range(c.nf)) AS k) uk
)
SELECT CAST(4400 + i AS BIGINT) AS media_id,
       ver AS mpeg_version,
       CAST(sr AS INTEGER) AS sample_rate,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(nf * spf AS BIGINT) AS total_samples,
       CAST(SUM(coef * kbps // sr + pad) AS BIGINT) AS audio_bytes,
       CAST(SUM(kbps) AS DOUBLE) / nf AS avg_kbps,
       CAST(nf * spf AS DOUBLE) / sr AS duration_sec
FROM fr GROUP BY i, ver, sr, nf, spf ORDER BY media_id
"""


@query("audio_mp3_meta", survey="llm-multimodal,X6", oracle=MP3_META_ORACLE)
def audio_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 frame-chain METADATA walk, distributed — the triage pass an
    audio corpus runs before deciding what to transcode: real ISO
    11172-3/13818-3 framing (sync scan with NO resync-past-garbage,
    version/layer gates, bitrate+samplerate table lookups, per-frame
    floor(coef*kbps/sr)+padding lengths, ID3v2 syncsafe skip, ID3v1
    trailer removal), emitting version / rate / frame / sample / byte
    counts, mean bitrate, and duration (single double divisions over
    exact integers). Fixtures sweep MPEG1/2/2.5, all three samplerate
    slots, all fourteen bitrate indexes (VBR chains), padding
    alternation, and ID3 tags on alternating items. The PERCEPTUAL
    decode (filterbank+huffman) is library-grade and stays behind the
    documented codec seam — this walker is the honest metadata layer
    above it. Unit twin: test_mp3_frame_walk."""
    from ..operators.multimodal import encode_mp3_stream, extract_mp3_meta

    rows = []
    for i in range(_N_PER_KIND):
        ver = "1" if i < 4 else ("2" if i < 7 else "2.5")
        nf, sidx = 11 + i, i % 3
        frames = [(ver, 1 + ((k + i) % 14), sidx, k % 2) for k in range(nf)]
        payload = encode_mp3_stream(
            frames,
            id3v2=(b"\x00" * (30 + i)) if i % 2 == 0 else None,
            id3v1=(i % 3 == 0),
        )
        rows.append((4400 + i, payload, "audio/mpeg", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_mp3_meta(media).orderBy("media_id")


# FLAC-meta oracle: STREAMINFO is a packed bitfield over formula values,
# and the container's raw-audio md5 slot carries md5('flac-seed-i') by
# fixture — both engines derive the hex identically, so the whole
# header parse (magic, block chain with last-flag, 34-byte STREAMINFO
# shape, 20/3/5/36-bit unpack) sits under the hash.
FLAC_META_ORACLE = """
WITH idx AS (SELECT unnest(range(8)) AS i)
SELECT CAST(4500 + i AS BIGINT) AS media_id,
       CAST([8000, 16000, 22050, 24000, 32000, 44100, 48000, 96000][i + 1]
            AS INTEGER) AS sample_rate,
       CAST(1 + (i % 2) AS INTEGER) AS channels,
       CAST(CASE WHEN i % 2 = 0 THEN 16 ELSE 24 END AS INTEGER) AS bits_per_sample,
       CAST(100000 + 12345 * i AS BIGINT) AS total_samples,
       md5('flac-seed-' || i) AS audio_md5,
       CAST(1 + (i % 3) AS INTEGER) AS n_blocks,
       CAST(100000 + 12345 * i AS DOUBLE)
         / [8000, 16000, 22050, 24000, 32000, 44100, 48000, 96000][i + 1]
         AS duration_sec
FROM idx ORDER BY media_id
"""


@query("audio_flac_meta", survey="llm-multimodal,X6", oracle=FLAC_META_ORACLE)
def audio_flac_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC STREAMINFO metadata parse, distributed (RFC 9639) — the
    lossless-audio triage sibling of the MP3 walk: fLaC magic, the
    metadata block chain (STREAMINFO must come first at exactly 34
    bytes — spec rules enforced, last-metadata flag walked through
    PADDING blocks), and the packed 20/3/5/36-bit
    rate/channels/bits/samples field, plus the container's OWN raw-audio
    md5 (the integrity anchor for any future transcode) and duration.
    Fixtures sweep eight sample rates, mono/stereo, 16/24-bit, and
    block-chain lengths; the md5 slot carries md5('flac-seed-i') so the
    oracle derives every column. Frame/audio decode stays behind the
    codec seam. Unit twin: test_flac_streaminfo."""
    import hashlib

    from ..operators.multimodal import encode_flac_header, extract_flac_meta

    rates = [8000, 16000, 22050, 24000, 32000, 44100, 48000, 96000]
    rows = []
    for i in range(_N_PER_KIND):
        payload = encode_flac_header(
            rates[i],
            1 + (i % 2),
            16 if i % 2 == 0 else 24,
            100000 + 12345 * i,
            hashlib.md5(f"flac-seed-{i}".encode()).digest(),
            extra_blocks=i % 3,
        )
        rows.append((4500 + i, payload, "audio/flac", len(payload), None))
    media = _media_frame(spark, rows)
    return extract_flac_meta(media).orderBy("media_id")
