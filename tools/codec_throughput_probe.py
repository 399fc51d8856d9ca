#!/usr/bin/env python
"""Measure decode throughput of the pure-Python/numpy media codecs, both
bare (single core, the honest per-core number) and inside the Arrow-batched
mapInPandas operators (the distributed path the queries run) — the r9
verdict's "make the codec-seam claim a number" task (SCALE.md §8i).

Two fixture scales per codec:
  - "query"  — the oracle-query fixture sizes (tens of pixels on a side /
    ~1 s of audio), what the driver actually times;
  - "128px" / "10s" — a realistic small-asset size, what a real corpus
    would look like, so the MB/s number is not dominated by per-item setup.

Prints one JSON line:
  {"probe": "codec_throughput", "rows": [
     {"codec": ..., "scale": ..., "items": N, "bytes": B,
      "solo_items_per_s": ..., "solo_mb_per_s": ...,
      "op_items_per_s": ..., "op_mb_per_s_per_core": ..., "cores": C}, ...]}

MB/s is payload megabytes decoded per second (compressed bytes in, the
number comparable to a native codec's spec sheet: libjpeg-turbo decodes
~100+ MB/s/core, stb_image PNG ~50-200 MB/s/core, PCM WAV is memcpy-bound
at GB/s). The gap between those ballparks and the numbers here is the
documented production seam: the operator SHAPE (Arrow batches in, one stat
row out per item) is production-ready; the entropy decoder inside it is
where a native library slots in (operators/multimodal.py module
docstring).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))


def fixtures():
    """(codec, scale, payloads) triples; payloads are spec-valid bytes."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        encode_jpeg_gray,
        encode_jpeg_progressive,
        encode_jpeg_ycbcr,
        encode_jpeg_ycbcr_420,
        encode_png_rgb,
        encode_wav_pcm,
    )

    rng = np.random.default_rng(7)

    def png(h, w):
        return encode_png_rgb(rng.integers(0, 256, (h, w, 3)).astype(np.uint8))

    def jgray(h, w):
        return encode_jpeg_gray(rng.integers(0, 256, (h, w)).astype(np.uint8))

    def j444(h, w):
        p = [rng.integers(0, 256, (h, w)).astype(np.uint8) for _ in range(3)]
        return encode_jpeg_ycbcr(*p)

    def j420(h, w):
        ch, cw = (h + 1) // 2, (w + 1) // 2
        return encode_jpeg_ycbcr_420(
            rng.integers(0, 256, (h, w)).astype(np.uint8),
            rng.integers(0, 256, (ch, cw)).astype(np.uint8),
            rng.integers(0, 256, (ch, cw)).astype(np.uint8),
        )

    def jprog(h, w):
        p = [rng.integers(0, 256, (h, w)).astype(np.uint8) for _ in range(3)]
        return encode_jpeg_progressive(*p)

    def gif(h, w):
        from sport_data_pipeline_spark.operators.multimodal import encode_gif_rgb

        pal = [(j, (5 * j) % 256, (9 * j) % 256) for j in range(256)]
        return encode_gif_rgb(
            rng.integers(0, 256, (h, w)).astype(np.uint8), pal, interlace=True
        )

    def g711(n):
        from sport_data_pipeline_spark.operators.multimodal import encode_wav_g711

        return encode_wav_g711(
            rng.integers(0, 256, n).astype(np.uint8), 8000, 2, "ulaw"
        )

    def wav(n):
        return encode_wav_pcm(
            rng.integers(-32768, 32768, n).astype(np.int16), 16000, 2
        )

    def adpcm(frames):
        from sport_data_pipeline_spark.operators.multimodal import encode_wav_adpcm

        n = (frames // 505) * 505  # whole 505-sample blocks
        return encode_wav_adpcm(
            rng.normal(0, 8000, 2 * n).astype(np.int16), 16000, 2, 505
        )

    def bmp(h, w):
        from sport_data_pipeline_spark.operators.multimodal import encode_bmp_rgb

        return encode_bmp_rgb(rng.integers(0, 256, (h, w, 3)).astype(np.uint8))

    def tiff(h, w, comp=1):
        from sport_data_pipeline_spark.operators.multimodal import encode_tiff

        return encode_tiff(
            rng.integers(0, 256, (h, w, 3)).astype(np.uint8), "MM", 16, comp
        )

    def tiff_pred2(h, w):
        from sport_data_pipeline_spark.operators.multimodal import encode_tiff

        return encode_tiff(
            rng.integers(0, 256, (h, w, 3)).astype(np.uint8),
            "MM", 16, 5, predictor=2,
        )

    def png_adam7(h, w):
        return encode_png_rgb(
            rng.integers(0, 256, (h, w, 3)).astype(np.uint8), interlace=True
        )

    def gif_anim(h, w):
        from sport_data_pipeline_spark.operators.multimodal import (
            encode_gif_animation,
        )

        pal = [(j, (5 * j) % 256, (9 * j) % 256) for j in range(16)]
        patch = rng.integers(0, 16, (h // 2, w // 2)).astype(np.uint8)
        return encode_gif_animation(
            (w, h),
            pal,
            [
                {"indices": rng.integers(0, 16, (h, w)).astype(np.uint8)},
                {"indices": patch, "left": w // 4, "top": h // 4,
                 "transparent": 15, "disposal": 3},
                {"indices": patch, "left": 0, "top": 0, "disposal": 2},
            ],
        )

    return [
        ("png", "query", [png(35, 44) for _ in range(64)]),
        ("png", "128px", [png(128, 128) for _ in range(64)]),
        ("jpeg_gray", "query", [jgray(35, 44) for _ in range(64)]),
        ("jpeg_gray", "128px", [jgray(128, 128) for _ in range(16)]),
        ("jpeg_444", "query", [j444(35, 44) for _ in range(32)]),
        ("jpeg_444", "128px", [j444(128, 128) for _ in range(8)]),
        ("jpeg_420", "128px", [j420(128, 128) for _ in range(8)]),
        ("jpeg_prog", "128px", [jprog(128, 128) for _ in range(8)]),
        ("gif", "128px", [gif(128, 128) for _ in range(16)]),
        ("g711_ulaw", "1s", [g711(16000) for _ in range(64)]),
        ("adpcm", "1s", [adpcm(16160) for _ in range(32)]),
        ("bmp", "query", [bmp(35, 44) for _ in range(64)]),
        ("bmp", "128px", [bmp(128, 128) for _ in range(64)]),
        ("tiff", "128px", [tiff(128, 128) for _ in range(64)]),
        ("tiff_lzw", "128px", [tiff(128, 128, 5) for _ in range(16)]),
        ("tiff_pred2", "128px", [tiff_pred2(128, 128) for _ in range(16)]),
        ("png_adam7", "128px", [png_adam7(128, 128) for _ in range(32)]),
        ("gif_anim", "128px", [gif_anim(128, 128) for _ in range(8)]),
        ("wav_pcm", "1s", [wav(32000) for _ in range(64)]),
        ("wav_pcm", "10s", [wav(320000) for _ in range(32)]),
    ]


DECODERS = {
    "png": "decode_png_rgb",
    "jpeg_gray": "decode_jpeg_gray",
    "jpeg_444": "decode_jpeg_rgb",
    "jpeg_420": "decode_jpeg_rgb",
    "jpeg_prog": "decode_jpeg_rgb",
    "gif": "decode_gif_rgb",
    "g711_ulaw": "decode_wav_pcm",
    "adpcm": "decode_wav_pcm",
    "bmp": "decode_bmp_rgb",
    "tiff": "decode_tiff_rgb",
    "tiff_lzw": "decode_tiff_rgb",
    "tiff_pred2": "decode_tiff_rgb",
    "png_adam7": "decode_png_rgb",
    "gif_anim": "decode_gif_animation",
    "wav_pcm": "decode_wav_pcm",
}

#: codec -> (stats operator, the ``decoder=`` it runs with; None keeps
#: the operator's default decoder)
OPERATORS = {
    "png": ("extract_pixel_stats", None),
    "jpeg_gray": ("extract_jpeg_stats", None),
    "jpeg_444": ("extract_pixel_stats", "decode_jpeg_rgb"),
    "jpeg_420": ("extract_pixel_stats", "decode_jpeg_rgb"),
    "jpeg_prog": ("extract_pixel_stats", "decode_jpeg_rgb"),
    "gif": ("extract_pixel_stats", "decode_gif_rgb"),
    "g711_ulaw": ("extract_audio_stats", None),
    "adpcm": ("extract_audio_stats", None),
    "bmp": ("extract_pixel_stats", "decode_bmp_rgb"),
    "tiff": ("extract_pixel_stats", "decode_tiff_rgb"),
    "tiff_lzw": ("extract_pixel_stats", "decode_tiff_rgb"),
    "tiff_pred2": ("extract_pixel_stats", "decode_tiff_rgb"),
    "png_adam7": ("extract_pixel_stats", None),
    "gif_anim": ("extract_gif_animation_stats", None),  # per composited FRAME rows out
    "wav_pcm": ("extract_audio_stats", None),
}


def solo(codec: str, payloads: list[bytes], min_sec: float = 1.0):
    """Single-core decode loop: repeat the payload list until >= min_sec."""
    import sport_data_pipeline_spark.operators.multimodal as M

    fn = getattr(M, DECODERS[codec])
    for p in payloads:  # correctness guard: every fixture must decode
        assert fn(p) is not None, codec
    items = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < min_sec:
        for p in payloads:
            fn(p)
        items += len(payloads)
    dt = time.perf_counter() - t0
    return items / dt, items * sum(map(len, payloads)) / len(payloads) / dt / 1e6


def op_run(spark, codec: str, payloads: list[bytes], target_items: int):
    """The distributed path: items spread over CPUS partitions through the
    mapInPandas operator; aggregate items/s and MB/s/core."""
    import sport_data_pipeline_spark.operators.multimodal as M
    from sport_data_pipeline_spark.operators.multimodal import MEDIA_SCHEMA

    reps = max(1, target_items // len(payloads))
    rows = [
        (i, payloads[i % len(payloads)], "x", len(payloads[i % len(payloads)]), None)
        for i in range(reps * len(payloads))
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(CPUS).cache()
    df.count()  # materialize inputs so the timing is the operator
    name, decoder = OPERATORS[codec]
    fn = getattr(M, name)

    def op(d):
        return fn(d) if decoder is None else fn(d, decoder=getattr(M, decoder))

    t0 = time.perf_counter()
    n = op(df).count()
    dt = time.perf_counter() - t0
    df.unpersist()
    total_mb = sum(len(r[1]) for r in rows) / 1e6
    return n / dt, total_mb / dt / CPUS


def main() -> None:
    from sport_data_pipeline_spark.session import get_session

    spark = get_session("codec_probe", cpus=CPUS, shuffle_partitions=CPUS)
    out = []
    for codec, scale, payloads in fixtures():
        sps, smb = solo(codec, payloads)
        # size the operator run to ~5 s of work given the solo rate, but
        # cap items AND driver-side payload bytes (createDataFrame ships
        # the fixtures through the py4j batch path — don't let a GB/s
        # codec turn the input build into the bottleneck being timed)
        avg = sum(map(len, payloads)) / len(payloads)
        target = max(CPUS * 2, int(sps * CPUS * 5))
        target = min(target, 2048, int(256e6 / avg))
        ops, omb = op_run(spark, codec, payloads, target)
        out.append(
            {
                "codec": codec,
                "scale": scale,
                "items": len(payloads),
                "avg_bytes": int(sum(map(len, payloads)) / len(payloads)),
                "solo_items_per_s": round(sps, 2),
                "solo_mb_per_s": round(smb, 3),
                "op_items_per_s": round(ops, 2),
                "op_mb_per_s_per_core": round(omb, 3),
                "cores": CPUS,
            }
        )
        print(json.dumps(out[-1]), file=sys.stderr)
    print(json.dumps({"probe": "codec_throughput", "rows": out}))
    spark.stop()


if __name__ == "__main__":
    main()
