"""Multimodal plumbing: container parsers, pixel/sample codecs and the
Arrow-batched stats extractors over MEDIA_SCHEMA payloads."""

from __future__ import annotations

import pytest


def _png(w: int, h: int) -> bytes:
    import struct as st
    import zlib

    ihdr = st.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    chunk = st.pack(">I", len(ihdr)) + b"IHDR" + ihdr
    chunk += st.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    return b"\x89PNG\r\n\x1a\n" + chunk


def _jpeg(w: int, h: int) -> bytes:
    import struct as st

    app0 = b"\xff\xe0" + st.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
    # progressive SOF2 after an APP0 — the scanner must skip segments
    sof = b"\xff\xc2" + st.pack(">H", 11) + b"\x08" + st.pack(">HH", h, w) + b"\x03"
    return b"\xff\xd8" + app0 + sof


def _gif(w: int, h: int) -> bytes:
    import struct as st

    return b"GIF89a" + st.pack("<HH", w, h) + b"\x00" * 4


def test_header_parser_on_real_container_bytes():
    from sport_data_pipeline_spark.operators.multimodal import parse_image_header

    assert parse_image_header(_png(640, 480)) == ("png", 640, 480)
    assert parse_image_header(_jpeg(1920, 1080)) == ("jpeg", 1920, 1080)
    assert parse_image_header(_gif(32, 16)) == ("gif", 32, 16)
    assert parse_image_header(b"plain text, not an image") is None
    assert parse_image_header(b"") is None
    assert parse_image_header(None) is None
    assert parse_image_header(b"\xff\xd8\x00\x00") is None  # desynced JPEG


def test_header_parser_rejects_tiff_array_valued_dimension_tags():
    # A (nonstandard) ImageWidth tag with count != 1 stores a file OFFSET in
    # the value field, not the dimension; the sniff must treat it as absent
    # rather than report the offset as a width.
    import struct as st

    from sport_data_pipeline_spark.operators.multimodal import parse_image_header

    def tiff(width_count: int) -> bytes:
        head = b"II" + st.pack("<HI", 42, 8)
        entries = [
            st.pack("<HHI", 256, 3, width_count) + st.pack("<HH", 640, 0),
            st.pack("<HHI", 257, 3, 1) + st.pack("<HH", 480, 0),
        ]
        return head + st.pack("<H", len(entries)) + b"".join(entries) + st.pack("<I", 0)

    assert parse_image_header(tiff(1)) == ("tiff", 640, 480)
    assert parse_image_header(tiff(2)) is None  # width tag ignored -> no dims


def test_extract_media_dimensions_distributed(spark):
    from sport_data_pipeline_spark.operators.multimodal import extract_media_dimensions

    rows = [
        (1, _png(640, 480), "image/png", 0, "{}"),
        (2, _jpeg(1920, 1080), "image/jpeg", 0, "{}"),
        (3, _gif(32, 16), "image/gif", 0, "{}"),
        (4, b"not an image", "text/plain", 0, "{}"),
        (5, None, None, 0, "{}"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, mime_type string, n_bytes long, meta_json string"
    )
    got = {r["media_id"]: r for r in extract_media_dimensions(media).collect()}
    assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("png", 640, 480)
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) == ("jpeg", 1920, 1080)
    assert (got[3]["format"], got[3]["width"], got[3]["height"]) == ("gif", 32, 16)
    assert got[4]["format"] is None and got[5]["format"] is None


# ---------------------------------------------------------------------------
# Audio (RIFF/WAVE) + video (ISO-BMFF) header decode and frame sampling.
# The WAV bytes come from the stdlib `wave` writer (a real encoder); the MP4
# bytes are hand-packed to the published ISO/IEC 14496-12 box layout.
# ---------------------------------------------------------------------------

import io
import struct
import wave


def _wav(channels=2, rate=16000, n_frames=8000, bits=16):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(bits // 8)
        w.setframerate(rate)
        w.writeframes(b"\x00" * (n_frames * channels * (bits // 8)))
    return buf.getvalue()


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _mp4(duration_sec=10.0, timescale=600, version=0, brand=b"isom"):
    if version == 0:
        mvhd = bytes([0, 0, 0, 0]) + struct.pack(
            ">III", 0, 0, timescale
        ) + struct.pack(">I", int(duration_sec * timescale)) + b"\x00" * 80
    else:
        mvhd = bytes([1, 0, 0, 0]) + struct.pack(
            ">QQI", 0, 0, timescale
        ) + struct.pack(">Q", int(duration_sec * timescale)) + b"\x00" * 80
    return _box(b"ftyp", brand + b"\x00\x00\x02\x00isomiso2") + _box(
        b"moov", _box(b"mvhd", mvhd)
    ) + _box(b"mdat", b"\x00" * 64)


def test_parse_wav_header_real_encoder_bytes():
    from sport_data_pipeline_spark.operators.multimodal import parse_wav_header

    assert parse_wav_header(_wav(2, 16000, 8000, 16)) == (2, 16000, 16, 0.5)
    assert parse_wav_header(_wav(1, 44100, 44100, 16)) == (1, 44100, 16, 1.0)
    assert parse_wav_header(b"RIFFxxxxNOPE") is None
    assert parse_wav_header(None) is None
    assert parse_wav_header(b"") is None


def test_parse_mp4_header_both_mvhd_versions():
    from sport_data_pipeline_spark.operators.multimodal import parse_mp4_header

    assert parse_mp4_header(_mp4(10.0, 600, version=0)) == ("isom", 10.0)
    assert parse_mp4_header(_mp4(3.5, 90000, version=1)) == ("isom", 3.5)
    assert parse_mp4_header(b"\x00\x00\x00\x08free") is None  # no ftyp
    assert parse_mp4_header(_box(b"ftyp", b"isom")) is None  # no moov/mvhd
    assert parse_mp4_header(None) is None


def test_extract_audio_meta_distributed(spark):
    from sport_data_pipeline_spark.operators.multimodal import extract_audio_meta

    rows = [
        (1, _wav(2, 16000, 8000, 16), "audio/wav", 0, "{}"),
        (2, b"not audio", "text/plain", 0, "{}"),
        (3, None, None, 0, "{}"),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, mime_type string, n_bytes long, meta_json string"
    )
    got = {r["media_id"]: r for r in extract_audio_meta(media).collect()}
    assert (got[1]["channels"], got[1]["sample_rate"], got[1]["bits_per_sample"]) == (2, 16000, 16)
    assert abs(got[1]["duration_sec"] - 0.5) < 1e-6
    assert got[2]["channels"] is None and got[3]["channels"] is None


def test_sample_frames_stride_and_cap(spark):
    from sport_data_pipeline_spark.operators.multimodal import sample_frames

    rows = [
        (1, _mp4(4.0, 600), "video/mp4", 0, "{}"),  # 4s @ 1fps → 5 frames
        (2, _mp4(100.0, 600), "video/mp4", 0, "{}"),  # capped at max_frames
        (3, b"junk", "text/plain", 0, "{}"),  # rejected → zero rows
    ]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, mime_type string, n_bytes long, meta_json string"
    )
    out = sample_frames(media, fps=1.0, max_frames=8).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[1]) == 5
    assert [r["frame_idx"] for r in sorted(by_id[1], key=lambda r: r["frame_idx"])] == list(range(5))
    assert len(by_id[2]) == 8  # uniform stride under the cap
    ts = sorted(r["ts_sec"] for r in by_id[2])
    assert abs((ts[1] - ts[0]) - 12.5) < 1e-4  # 100s / 8 frames
    assert 3 not in by_id
    assert all(r["frame"] is None for r in out)  # codec seam yields NULL


def test_mediaops_synthesized_payloads_roundtrip_parsers():
    """The driver-checkable multimodal query synthesizes container bytes
    from closed formulas; every builder must round-trip through the real
    header parsers with exactly the parameters it was built from."""
    from sport_data_pipeline_spark.operators.multimodal import (
        parse_image_header,
        parse_mp4_header,
        parse_wav_header,
    )
    from sport_data_pipeline_spark.plans.mediaops import _gif, _jpeg, _mp4, _png, _wav

    assert parse_image_header(_png(17, 33)) == ("png", 17, 33)
    assert parse_image_header(_gif(64, 32)) == ("gif", 64, 32)
    assert parse_image_header(_jpeg(320, 200, progressive=False)) == ("jpeg", 320, 200)
    assert parse_image_header(_jpeg(330, 205, progressive=True)) == ("jpeg", 330, 205)
    # 1 ch × 8000 Hz × 16 bit → byte_rate 16000; 28000 bytes = 1.75 s
    assert parse_wav_header(_wav(1, 8000, 16, 28000)) == (1, 8000, 16, 1.75)
    assert parse_mp4_header(_mp4(1000, 2250)) == ("isom", 2.25)


# --------------------------------------------------------------------------
# PNG pixel codec: real decode (zlib + scanline filters)
# --------------------------------------------------------------------------

import zlib

import numpy as np

from sport_data_pipeline_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_png_rgb,
    encode_png_rgb,
    extract_pixel_stats,
)


def _reference_unfilter(b: bytes) -> np.ndarray:
    """Independent scalar decoder, transcribed directly from the PNG spec's
    filter recurrences (per-byte loops, no vectorization) — catches any
    encoder/decoder bug pair in the numpy implementation that would cancel
    in a round-trip-only test."""
    assert b[12:16] == b"IHDR"
    w, h = struct.unpack(">II", b[16:24])
    # walk chunks for IDAT
    idat, i = b"", 8
    while i < len(b):
        (ln,) = struct.unpack(">I", b[i : i + 4])
        if b[i + 4 : i + 8] == b"IDAT":
            idat += b[i + 8 : i + 8 + ln]
        i += 12 + ln
    raw = zlib.decompress(idat)
    stride = 3 * w
    out = []
    prev = [0] * stride
    for y in range(h):
        line = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        f, filt = line[0], line[1:]
        recon = [0] * stride
        for x in range(stride):
            a = recon[x - 3] if x >= 3 else 0
            bb = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            if f == 0:
                v = filt[x]
            elif f == 1:
                v = filt[x] + a
            elif f == 2:
                v = filt[x] + bb
            elif f == 3:
                v = filt[x] + (a + bb) // 2
            else:
                p = a + bb - c
                pa, pb_, pc = abs(p - a), abs(p - bb), abs(p - c)
                pred = a if pa <= pb_ and pa <= pc else (bb if pb_ <= pc else c)
                v = filt[x] + pred
            recon[x] = v % 256
        out.append(recon)
        prev = recon
    return np.array(out, dtype=np.uint8).reshape(h, w, 3)


def test_png_pixel_roundtrip_all_filters():
    rng = np.random.RandomState(11)
    for h, w in [(1, 1), (9, 16), (13, 37)]:
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        for filt in [None, 0, 1, 2, 3, 4]:
            out = decode_png_rgb(encode_png_rgb(px, filters=filt))
            assert out is not None and (out == px).all()


def test_png_decode_matches_independent_scalar_reference():
    rng = np.random.RandomState(23)
    px = rng.randint(0, 256, size=(17, 29, 3), dtype=np.uint8)
    b = encode_png_rgb(px)  # cycles all five filter types
    got = decode_png_rgb(b)
    assert (got == _reference_unfilter(b)).all()
    assert (got == px).all()


def test_png_decode_rejects_out_of_profile_and_garbage():
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    good = encode_png_rgb(px)
    assert decode_png_rgb(good) is not None
    assert decode_png_rgb(None) is None
    assert decode_png_rgb(b"") is None
    assert decode_png_rgb(b"GIF89a\x00\x00\x00\x00") is None
    assert decode_png_rgb(good[:40]) is None  # truncated IDAT
    # 16-bit / RGBA / interlaced profiles: None, never a crash
    for off, val in [(24, 16), (25, 6), (28, 1)]:  # depth, color type, interlace
        bad = bytearray(good)
        bad[off] = val
        assert decode_png_rgb(bytes(bad)) is None
    corrupt = bytearray(good)
    corrupt[-20] ^= 0xFF  # flip a byte inside IDAT → zlib error
    assert decode_png_rgb(bytes(corrupt)) is None


def test_extract_pixel_stats_distributed(spark):
    px0 = np.full((2, 3, 3), 10, dtype=np.uint8)
    px0[..., 1] = 20
    px0[..., 2] = 30
    rows = [
        (1, encode_png_rgb(px0), "image/png", 0, None),
        (2, None, "image/png", 0, None),  # null payload
        (3, b"\xff\xd8\xff\xe0junk", "image/jpeg", 0, None),  # not a PNG
    ]
    got = {
        r["media_id"]: r
        for r in extract_pixel_stats(
            spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3, "media_id")
        ).collect()
    }
    assert got[1]["width"] == 3 and got[1]["height"] == 2 and got[1]["n_px"] == 6
    assert got[1]["sum_r"] == 60 and got[1]["sum_g"] == 120 and got[1]["sum_b"] == 180
    assert got[1]["mean_g"] == 20.0
    for mid in (2, 3):
        assert got[mid]["width"] is None and got[mid]["sum_r"] is None


# --------------------------------------------------------------------------
# WAV PCM codec: real sample-level decode
# --------------------------------------------------------------------------

from sport_data_pipeline_spark.operators.multimodal import (
    decode_wav_pcm,
    encode_wav_pcm,
    extract_audio_stats,
)


def test_wav_pcm_roundtrip_mono_and_stereo():
    rng = np.random.RandomState(5)
    for ch, n in [(1, 801), (2, 1024)]:
        s = rng.randint(-32768, 32768, size=n * ch, dtype=np.int64).astype(np.int16)
        dec = decode_wav_pcm(encode_wav_pcm(s, 8000, ch))
        assert dec is not None
        got_ch, got_rate, got = dec
        assert (got_ch, got_rate) == (ch, 8000)
        assert (got == s).all()


def test_wav_pcm_decode_matches_stdlib_wave_encoder():
    """stdlib `wave` is an independent encoder: bytes it writes must decode
    to the exact samples — catches any encoder/decoder bug pair in our own
    round-trip."""
    s = np.array([0, 1, -1, 32767, -32768, 12345, -12345], dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(11025)
        w.writeframes(s.tobytes())
    dec = decode_wav_pcm(buf.getvalue())
    assert dec is not None
    ch, rate, got = dec
    assert (ch, rate) == (1, 11025)
    assert (got == s).all()


def test_wav_pcm_decode_rejects_out_of_profile():
    s = np.zeros(64, dtype=np.int16)
    good = encode_wav_pcm(s, 8000, 1)
    assert decode_wav_pcm(good) is not None
    assert decode_wav_pcm(None) is None
    assert decode_wav_pcm(b"RIFFxxxx") is None
    assert decode_wav_pcm(good[:40]) is None  # truncated data chunk
    bad_fmt = bytearray(good)
    bad_fmt[20] = 3  # format tag 3 = IEEE float, not PCM
    assert decode_wav_pcm(bytes(bad_fmt)) is None
    bad_bits = bytearray(good)
    bad_bits[34] = 24  # 24-bit stays out of profile (8/16-bit decode)
    assert decode_wav_pcm(bytes(bad_bits)) is None
    # stereo with a partial frame (odd sample count): reject
    assert decode_wav_pcm(encode_wav_pcm(np.zeros(65, dtype=np.int16), 8000, 2)) is None


def test_extract_audio_stats_distributed(spark):
    s = np.array([3, -4, 0, 5], dtype=np.int16)
    rows = [
        (1, encode_wav_pcm(s, 16000, 1), "audio/wav", 0, None),
        (2, None, "audio/wav", 0, None),
        (3, b"\x89PNG\r\n\x1a\not-audio", "image/png", 0, None),
    ]
    got = {
        r["media_id"]: r
        for r in extract_audio_stats(
            spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3, "media_id")
        ).collect()
    }
    assert got[1]["n_samples"] == 4 and got[1]["channels"] == 1
    assert got[1]["sum_sq"] == 50 and got[1]["sum_abs"] == 12 and got[1]["peak"] == 5
    assert abs(got[1]["rms"] - (50 / 4) ** 0.5) < 1e-12
    for mid in (2, 3):
        assert got[mid]["n_samples"] is None and got[mid]["sum_sq"] is None


# --------------------------------------------------------------------------
# Box-downsample resize on real pixels
# --------------------------------------------------------------------------

from sport_data_pipeline_spark.operators.multimodal import (
    box_downsample_rgb,
    resize_image_payloads,
)


def _naive_box_downsample(px: np.ndarray, f: int) -> np.ndarray:
    """Independent scalar reference: explicit block loops."""
    h, w, _ = px.shape
    h2, w2 = (h + f - 1) // f, (w + f - 1) // f
    out = np.zeros((h2, w2, 3), dtype=np.uint8)
    for by in range(h2):
        for bx in range(w2):
            block = px[by * f : (by + 1) * f, bx * f : (bx + 1) * f, :].astype(np.int64)
            out[by, bx] = block.reshape(-1, 3).sum(axis=0) // (
                block.shape[0] * block.shape[1]
            )
    return out


def test_box_downsample_matches_naive_reference_with_ragged_edges():
    rng = np.random.RandomState(3)
    for h, w, f in [(9, 16, 2), (13, 37, 3), (4, 4, 2), (5, 7, 4)]:
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        got = box_downsample_rgb(px, f)
        ref = _naive_box_downsample(px, f)
        assert got.shape == ref.shape and (got == ref).all()


def test_resize_image_payloads_roundtrip_and_nulls(spark):
    rng = np.random.RandomState(17)
    px = rng.randint(0, 256, size=(9, 15, 3), dtype=np.uint8)
    rows = [
        (1, encode_png_rgb(px), "image/png", 0, None),
        (2, None, "image/png", 0, None),
        (3, b"GIF89a\x10\x00\x08\x00", "image/gif", 0, None),  # not a PNG
    ]
    out = {
        r["media_id"]: r
        for r in resize_image_payloads(
            spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3, "media_id"),
            factor=2,
        ).collect()
    }
    resized = decode_png_rgb(bytes(out[1]["payload"]))
    assert (resized == _naive_box_downsample(px, 2)).all()
    assert out[1]["n_bytes"] == len(bytes(out[1]["payload"]))
    assert out[2]["payload"] is None and out[3]["payload"] is None


# ---------------------------------------------------------------------------
# JPEG baseline codec + MJPEG mp4 sample tables
# ---------------------------------------------------------------------------

from sport_data_pipeline_spark.operators.multimodal import (  # noqa: E402
    STD_LUMA_QUANT,
    _decode_coeff_blocks,
    _encode_coeff_blocks,
    build_mp4_mjpeg,
    decode_jpeg_gray,
    encode_jpeg_gray,
    extract_jpeg_stats,
    extract_video_frame_stats,
    parse_mp4_header,
    parse_mp4_samples,
)


def _const_block_image(rng, h, w):
    bv = (rng.integers(0, 128, size=((h + 7) // 8, (w + 7) // 8)) * 2).astype(np.uint8)
    return np.kron(bv, np.ones((8, 8), np.uint8))[:h, :w]


def test_jpeg_entropy_layer_exact_roundtrip():
    """Coefficient-level round trip: huffman+DPCM encode/decode is exact for
    arbitrary quantized spectra — dense blocks, long zero runs needing ZRL,
    max-ish amplitudes, sign coverage. This pins the ENTROPY layer alone
    (no DCT in the loop)."""
    rng = np.random.default_rng(11)
    blocks = []
    for b in range(20):
        blk = np.zeros(64, dtype=np.int64)
        if b % 4 == 0:  # dense small coefficients
            blk[:] = rng.integers(-40, 41, size=64)
        elif b % 4 == 1:  # sparse: forces ZRL (>16-zero gaps)
            blk[0] = rng.integers(-200, 201)
            blk[40] = rng.integers(1, 5)
            blk[63] = -3
        elif b % 4 == 2:  # large amplitudes across bit-size categories
            blk[0] = 1000
            blk[1] = -1023
            blk[8] = 511
            blk[9] = -1
        # b % 4 == 3: all-zero block (EOB straight after DC)
        blocks.append(blk.tolist())
    data = _encode_coeff_blocks(blocks)
    out = _decode_coeff_blocks(data, 0, len(blocks))
    assert [list(map(int, blk)) for blk in out] == [list(map(int, b)) for b in blocks]


def test_jpeg_constant_even_blocks_bitexact():
    """The exactness contract the oracle leans on: even constant-valued 8x8
    blocks survive encode->decode bit-exactly, including ragged pad/crop."""
    rng = np.random.default_rng(5)
    for h, w in [(8, 8), (21, 29), (9, 40), (16, 17)]:
        px = _const_block_image(rng, h, w)
        dec = decode_jpeg_gray(encode_jpeg_gray(px))
        assert dec is not None and dec.shape == (h, w)
        assert (dec == px).all()


def test_jpeg_idct_matches_independent_four_loop_reference():
    """Decoder IDCT vs an independent direct T.81 A.3.3 quadruple-loop
    math.cos reference, on random dense coefficient blocks pushed through
    the real byte stream (flat quant table isolates the transform)."""
    import math

    rng = np.random.default_rng(23)
    coeffs = rng.integers(-60, 61, size=(4, 64)).astype(np.int64)
    flat_q = [1] * 64

    # hand-build a JPEG whose quantized spectrum is exactly `coeffs`
    data = _encode_coeff_blocks([c.tolist() for c in coeffs])
    import struct as _s

    def seg(marker, payload):
        return bytes((0xFF, marker)) + _s.pack(">H", len(payload) + 2) + payload

    from sport_data_pipeline_spark.operators.multimodal import (
        _AC_BITS,
        _AC_VALS,
        _DC_BITS,
        _DC_VALS,
        _ZIGZAG,
    )

    qz = bytes(flat_q[_ZIGZAG[k]] for k in range(64))
    h, w = 8, 32  # 4 blocks in a row
    payload = (
        b"\xff\xd8"
        + seg(0xDB, b"\x00" + qz)
        + seg(0xC0, b"\x08" + _s.pack(">HH", h, w) + b"\x01\x01\x11\x00")
        + seg(0xC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
              + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
        + seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        + data
        + b"\xff\xd9"
    )
    dec = decode_jpeg_gray(payload)
    assert dec is not None and dec.shape == (h, w)

    def ref_idct(blk64):
        s = [[0.0] * 8 for _ in range(8)]
        for y in range(8):
            for x in range(8):
                acc = 0.0
                for v in range(8):
                    for u in range(8):
                        cu = 1 / math.sqrt(2) if u == 0 else 1.0
                        cv = 1 / math.sqrt(2) if v == 0 else 1.0
                        acc += (
                            cu * cv * blk64[v * 8 + u]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * v * math.pi / 16)
                        )
                s[y][x] = acc / 4.0
        return s

    for b in range(4):
        ref = ref_idct(coeffs[b])
        got = dec[:, b * 8 : b * 8 + 8].astype(int)
        want = np.clip(np.rint(np.array(ref)) + 128, 0, 255).astype(int)
        assert (got == want).all(), f"block {b}"


def test_jpeg_decode_rejects_out_of_profile():
    px = _const_block_image(np.random.default_rng(1), 16, 16)
    good = encode_jpeg_gray(px)
    assert decode_jpeg_gray(None) is None
    assert decode_jpeg_gray(b"\xff\xd8\xff") is None
    assert decode_jpeg_gray(good[:40]) is None  # truncated mid-tables
    # progressive SOF2 (the multimodal_meta fixture's progressive header)
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert decode_jpeg_gray(prog) is None
    # DRI is IN profile since r10 — but a stream DECLARING a restart
    # interval whose scan lacks the markers (Ri=1 here, no RSTn emitted)
    # must yield None, never desynced pixels
    import struct as _s

    dri = b"\xff\xdd" + _s.pack(">H", 4) + _s.pack(">H", 1)
    sos_at = good.index(b"\xff\xda")
    assert decode_jpeg_gray(good[:sos_at] + dri + good[sos_at:]) is None
    # malformed DRI length is rejected
    bad_dri = b"\xff\xdd" + _s.pack(">H", 3) + b"\x01"
    assert decode_jpeg_gray(good[:sos_at] + bad_dri + good[sos_at:]) is None
    # 3-component SOF is out of profile (component count byte = 3)
    sof_at = good.index(b"\xff\xc0")
    multi = bytearray(good)
    multi[sof_at + 9] = 3
    assert decode_jpeg_gray(bytes(multi)) is None
    # SOF0 declaring width 0 must yield None, never a zero-size (h, 0)
    # array that crashes stats callers (px.min() / total/n)
    zero_w = bytearray(good)
    zero_w[sof_at + 7 : sof_at + 9] = b"\x00\x00"
    assert decode_jpeg_gray(bytes(zero_w)) is None


def test_jpeg_decode_honors_declared_quant_table():
    """DQT is read from the stream, not assumed Annex-K: a flat table of 8
    makes every even value in [-128h..] representable — check a non-even
    pattern decodes exactly under it."""
    rng = np.random.default_rng(9)
    bv = rng.integers(0, 256, size=(2, 2)).astype(np.uint8)
    px = np.kron(bv, np.ones((8, 8), np.uint8))
    flat = [8] * 64
    dec = decode_jpeg_gray(encode_jpeg_gray(px, quant=flat))
    # q00 = 8: S = round(8(v-128)/8) = v-128 exactly, decode = v exactly
    assert (dec == px).all()


def test_extract_jpeg_stats_distributed(spark):
    rng = np.random.default_rng(2)
    rows = []
    want = {}
    for i in range(6):
        px = _const_block_image(rng, 17 + i, 24 + i)
        rows.append((i, encode_jpeg_gray(px), "image/jpeg", 0, None))
        want[i] = (int(px.sum()), int(px.min()), int(px.max()))
    rows.append((99, b"not a jpeg", "image/jpeg", 0, None))
    from sport_data_pipeline_spark.operators.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3, "media_id")
    got = {r["media_id"]: r for r in extract_jpeg_stats(df).collect()}
    assert got[99]["sum_v"] is None
    for i, (s, lo, hi) in want.items():
        assert (got[i]["sum_v"], got[i]["min_v"], got[i]["max_v"]) == (s, lo, hi)


def test_mp4_sample_table_roundtrip_and_header_compat():
    rng = np.random.default_rng(4)
    frames = [encode_jpeg_gray(_const_block_image(rng, 16, 24)) for _ in range(7)]
    mp4 = build_mp4_mjpeg(frames, timescale=600, frame_dur=100)
    # existing mvhd duration parser still reads the richer builder's output
    assert parse_mp4_header(mp4) == ("isom", round(7 * 100 / 600, 6))
    samples = parse_mp4_samples(mp4)
    assert [s for _, s in samples] == [len(f) for f in frames]
    for (off, size), f in zip(samples, frames):
        assert mp4[off : off + size] == f
    assert parse_mp4_samples(None) is None
    assert parse_mp4_samples(b"\x00\x00\x00\x08free") is None
    assert parse_mp4_samples(mp4[:80]) is None


def test_mp4_sample_table_bounds_hardened():
    """Untrusted sample-table counts: a crafted stsz declaring ~4 billion
    fixed-size samples must not attempt a multi-GB allocation, and counts
    that overrun their own box end must fail deterministically instead of
    silently reading neighboring boxes as entries."""
    rng = np.random.default_rng(8)
    frames = [encode_jpeg_gray(_const_block_image(rng, 16, 16)) for _ in range(3)]
    mp4 = build_mp4_mjpeg(frames)
    assert parse_mp4_samples(mp4) is not None  # baseline sanity
    i = mp4.index(b"stsz")  # layout: type, ver/flags(4), fixed(4), count(4)
    crafted = bytearray(mp4)
    crafted[i + 8 : i + 12] = (16).to_bytes(4, "big")
    crafted[i + 12 : i + 16] = (0xFFFFFFFF).to_bytes(4, "big")
    assert parse_mp4_samples(bytes(crafted)) is None
    # variable-size stsz whose declared count overruns the box end
    crafted = bytearray(mp4)
    crafted[i + 12 : i + 16] = (10**6).to_bytes(4, "big")
    assert parse_mp4_samples(bytes(crafted)) is None
    # stco / stsc entry counts one past their box end read into the next
    # box without the hi bound; with it they are rejected outright
    for typ, real_plus in ((b"stco", 4), (b"stsc", 12)):
        j = mp4.index(typ)
        (declared,) = struct.unpack(">I", mp4[j + 8 : j + 12])
        crafted = bytearray(mp4)
        crafted[j + 8 : j + 12] = (declared + 1).to_bytes(4, "big")
        assert parse_mp4_samples(bytes(crafted)) is None, typ


def test_extract_video_frame_stats_distributed(spark):
    rng = np.random.default_rng(6)
    rows = []
    want = {}
    for i in range(4):
        pxs = [_const_block_image(rng, 16, 16) for _ in range(2 + i)]
        mp4 = build_mp4_mjpeg([encode_jpeg_gray(p) for p in pxs])
        rows.append((i, mp4, "video/mp4", 0, None))
        want[i] = (len(pxs), sum(int(p.sum()) for p in pxs))
    # one video with a corrupt middle frame -> NULL stats, not partial
    pxs = [_const_block_image(rng, 16, 16) for _ in range(3)]
    frames = [encode_jpeg_gray(p) for p in pxs]
    frames[1] = b"\x00" * len(frames[1])
    rows.append((50, build_mp4_mjpeg(frames), "video/mp4", 0, None))
    from sport_data_pipeline_spark.operators.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3, "media_id")
    got = {r["media_id"]: r for r in extract_video_frame_stats(df).collect()}
    assert got[50]["sum_v"] is None
    for i, (nf, s) in want.items():
        assert (got[i]["n_frames"], got[i]["sum_v"]) == (nf, s)


def _ycbcr_const_planes(i, h, w):
    """Per-block constant YCbCr planes at the bit-exact levels the color
    oracle leans on: even luma (DC quant 16), 128+17t chroma (DC quant 17)."""
    nbx, nby = (w + 7) // 8, (h + 7) // 8
    by, bx = np.mgrid[0:nby, 0:nbx]
    yb = (8 + 2 * ((7 * i + 3 * bx + 5 * by) % 120)).astype(np.uint8)
    cbb = (128 + 17 * (((11 * i + bx + 2 * by) % 15) - 7)).astype(np.uint8)
    crb = (128 + 17 * (((13 * i + 2 * bx + by) % 15) - 7)).astype(np.uint8)

    def up(a):
        return np.kron(a, np.ones((8, 8), np.uint8))[:h, :w]

    return up(yb), up(cbb), up(crb)


def _rgb_from_planes(ypl, cbpl, crpl):
    yv = ypl.astype(np.float64)
    cbd = cbpl.astype(np.float64) - 128.0
    crd = crpl.astype(np.float64) - 128.0
    r = np.clip(np.floor(yv + 1.402 * crd + 0.5), 0, 255)
    g = np.clip(np.floor(yv - 0.344136 * cbd - 0.714136 * crd + 0.5), 0, 255)
    b = np.clip(np.floor(yv + 1.772 * cbd + 0.5), 0, 255)
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def test_jpeg_color_constant_blocks_bitexact():
    """The color exactness contract: per-block constant YCbCr planes at the
    oracle's levels survive the interleaved 3-component encode -> decode ->
    CCIR 601 inverse transform bit-exactly (ragged pad/crop included), and
    the chroma swings hit BOTH clip rails so saturation is covered."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_rgb,
        encode_jpeg_ycbcr,
    )

    hit0 = hit255 = False
    dims = [(21, 29), (9, 40), (16, 17), (24, 32)] + [(21 + 2 * i, 29 + 3 * i) for i in range(4, 8)]
    for i, (h, w) in enumerate(dims):
        ypl, cbpl, crpl = _ycbcr_const_planes(i, h, w)
        rgb = decode_jpeg_rgb(encode_jpeg_ycbcr(ypl, cbpl, crpl))
        exp = _rgb_from_planes(ypl, cbpl, crpl)
        assert rgb is not None and rgb.shape == (h, w, 3)
        assert (rgb == exp).all()
        hit0 |= bool((exp == 0).any())
        hit255 |= bool((exp == 255).any())
    assert hit0 and hit255


def test_jpeg_color_and_gray_wrappers_are_strict():
    """decode_jpeg_gray refuses color streams, decode_jpeg_rgb refuses
    grayscale — a stats caller never silently gets the wrong shape."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_gray,
        decode_jpeg_rgb,
        encode_jpeg_gray,
        encode_jpeg_ycbcr,
    )

    ypl, cbpl, crpl = _ycbcr_const_planes(2, 16, 16)
    color = encode_jpeg_ycbcr(ypl, cbpl, crpl)
    gray = encode_jpeg_gray(ypl)
    assert decode_jpeg_gray(color) is None
    assert decode_jpeg_rgb(gray) is None
    assert decode_jpeg_gray(gray) is not None
    assert decode_jpeg_rgb(color) is not None


def test_jpeg_color_decode_rejects_out_of_profile():
    """Profile honesty for the color path: subsampled (non-1x1 sampling),
    progressive, truncated, and zero-dimension color streams yield None —
    never a crash or a wrong-shape array."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_rgb,
        encode_jpeg_ycbcr,
    )

    ypl, cbpl, crpl = _ycbcr_const_planes(3, 16, 16)
    good = encode_jpeg_ycbcr(ypl, cbpl, crpl)
    assert decode_jpeg_rgb(None) is None
    assert decode_jpeg_rgb(good[:60]) is None  # truncated mid-tables
    sof_at = good.index(b"\xff\xc0")
    # Y sampling 3x3 (9 blocks/MCU) exceeds the baseline 10-block MCU
    # bound with two chroma blocks and is out of profile (every
    # Y-subsampled layout with h*v <= 8 decodes via the generic
    # MCU-interleaved path: test_jpeg_420_* / test_jpeg_422_* /
    # test_jpeg_sampling_matrix); so is SUBSAMPLED CHROMA (0x21 on Cb)
    sub = bytearray(good)
    assert sub[sof_at + 11] == 0x11
    sub[sof_at + 11] = 0x33
    assert decode_jpeg_rgb(bytes(sub)) is None
    sub2 = bytearray(good)
    assert sub2[sof_at + 14] == 0x11
    sub2[sof_at + 14] = 0x21  # chroma not 1x1: out of profile
    assert decode_jpeg_rgb(bytes(sub2)) is None
    # progressive SOF2
    assert decode_jpeg_rgb(good.replace(b"\xff\xc0", b"\xff\xc2", 1)) is None
    # SOF0 declaring width 0
    zero_w = bytearray(good)
    zero_w[sof_at + 7 : sof_at + 9] = b"\x00\x00"
    assert decode_jpeg_rgb(bytes(zero_w)) is None


def test_extract_jpeg_color_stats_distributed(spark):
    from sport_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_jpeg_rgb,
        encode_jpeg_ycbcr,
        extract_pixel_stats,
    )

    rows = []
    want = {}
    for i in range(4):
        ypl, cbpl, crpl = _ycbcr_const_planes(i, 21 + 2 * i, 29 + 3 * i)
        rows.append((i, encode_jpeg_ycbcr(ypl, cbpl, crpl), "image/jpeg", 0, None))
        exp = _rgb_from_planes(ypl, cbpl, crpl).reshape(-1, 3).sum(axis=0, dtype=np.int64)
        want[i] = tuple(int(x) for x in exp)
    rows.append((9, b"\x00garbage", "image/jpeg", 0, None))
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3, "media_id")
    got = {r["media_id"]: r for r in extract_pixel_stats(df, decoder=decode_jpeg_rgb).collect()}
    assert got[9]["sum_r"] is None
    for i, (sr, sg, sb) in want.items():
        assert (got[i]["sum_r"], got[i]["sum_g"], got[i]["sum_b"]) == (sr, sg, sb)


def test_box_downsample_pcm_floor_and_ragged():
    """The resampler's arithmetic pins: FLOOR division (negative window
    sums round toward -inf, matching SQL FLOOR(sum/count)), per-channel
    framing of interleaved buffers, and a ragged final window averaging
    its actual frame count."""
    from sport_data_pipeline_spark.operators.multimodal import box_downsample_pcm

    # mono, 5 frames, factor 2 -> windows [a,b], [c,d], [e] (ragged)
    out = box_downsample_pcm(np.array([-3, -4, 5, 6, 9], np.int16), 1, 2)
    #  (-3 + -4) // 2 = -4 (floor, NOT -3), (5+6)//2 = 5, ragged [9] = 9
    assert out.tolist() == [-4, 5, 9]
    # stereo interleaved: frames (L,R) = (1,-1),(2,-2),(3,-3) factor 2
    out = box_downsample_pcm(np.array([1, -1, 2, -2, 3, -3], np.int16), 2, 2)
    #  L: (1+2)//2 = 1, ragged 3; R: (-1 + -2)//2 = -2 (floor), ragged -3
    assert out.tolist() == [1, -2, 3, -3]
    # -32768 windows stay in int16 range
    out = box_downsample_pcm(np.array([-32768, -32768], np.int16), 1, 2)
    assert out.tolist() == [-32768]


def test_resample_wav_payloads_distributed(spark):
    from sport_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        box_downsample_pcm,
        encode_wav_pcm,
        extract_audio_stats,
        resample_wav_payloads,
    )

    rng = np.random.default_rng(9)
    rows, want = [], {}
    for i in range(4):
        ch = 1 + (i % 2)
        v = rng.integers(-32768, 32767, size=(51 + i * 10) * ch).astype(np.int16)
        rows.append((i, encode_wav_pcm(v, 8000, ch), "audio/wav", 0, None))
        exp = box_downsample_pcm(v, ch, 2).astype(np.int64)
        want[i] = (int(exp.size), int((exp * exp).sum()))
    rows.append((9, b"RIFFgarbage", "audio/wav", 0, None))
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3, "media_id")
    got = {
        r["media_id"]: r
        for r in extract_audio_stats(resample_wav_payloads(df, factor=2)).collect()
    }
    assert got[9]["sum_sq"] is None
    for i, (n, ss) in want.items():
        assert (got[i]["n_samples"], got[i]["sum_sq"]) == (n, ss)
        assert got[i]["sample_rate"] == 4000


def _ycbcr_420_planes(i, h, w):
    """4:2:0 fixture planes at the oracle's bit-exact levels: full-res Y
    per-8x8-block constant (even levels -> exact against luma DC quant 16),
    SUBSAMPLED chroma per-8x8-block constant on the (ceil(h/2), ceil(w/2))
    grid (128+17t levels -> exact against chroma DC quant 17)."""
    nbx, nby = (w + 7) // 8, (h + 7) // 8
    by, bx = np.mgrid[0:nby, 0:nbx]
    yb = (8 + 2 * ((7 * i + 3 * bx + 5 * by) % 120)).astype(np.uint8)
    ch, cw = (h + 1) // 2, (w + 1) // 2
    ncbx, ncby = (cw + 7) // 8, (ch + 7) // 8
    cby, cbx = np.mgrid[0:ncby, 0:ncbx]
    cbb = (128 + 17 * (((11 * i + cbx + 2 * cby) % 15) - 7)).astype(np.uint8)
    crb = (128 + 17 * (((13 * i + 2 * cbx + cby) % 15) - 7)).astype(np.uint8)

    def up(a, hh, ww):
        return np.kron(a, np.ones((8, 8), np.uint8))[:hh, :ww]

    return up(yb, h, w), up(cbb, ch, cw), up(crb, ch, cw)


def _replicate2(a, h, w):
    return np.repeat(np.repeat(a, 2, axis=0), 2, axis=1)[:h, :w]


def test_jpeg_420_constant_blocks_bitexact():
    """4:2:0 round trip on the exactness-contract levels, at sizes that
    exercise every boundary case: an exact 16-multiple, non-multiples of 16
    (MCU edge pad/crop on both axes), a 17x17 image (heavy pad AND the
    ragged ceil(h/2)=9 chroma plane from odd dimensions)."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_rgb,
        encode_jpeg_ycbcr_420,
    )

    for i, (h, w) in enumerate([(16, 16), (21, 29), (17, 17), (35, 50)]):
        ypl, cbpl, crpl = _ycbcr_420_planes(i, h, w)
        dec = decode_jpeg_rgb(encode_jpeg_ycbcr_420(ypl, cbpl, crpl))
        assert dec is not None and dec.shape == (h, w, 3), (h, w)
        exp = _rgb_from_planes(ypl, _replicate2(cbpl, h, w), _replicate2(crpl, h, w))
        assert (dec == exp).all(), (h, w)


def test_jpeg_420_matches_444_on_replicated_chroma():
    """The pinned replication-upsample convention, cross-checked through the
    codec itself: a 4:2:0 stream and a 4:4:4 stream built from the
    REPLICATED chroma planes decode to the identical RGB image (both exact
    on constant blocks, so any upsample-convention drift breaks equality)."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_rgb,
        encode_jpeg_ycbcr,
        encode_jpeg_ycbcr_420,
    )

    for i, (h, w) in enumerate([(16, 16), (21, 29)]):
        ypl, cbpl, crpl = _ycbcr_420_planes(i, h, w)
        a = decode_jpeg_rgb(encode_jpeg_ycbcr_420(ypl, cbpl, crpl))
        b = decode_jpeg_rgb(
            encode_jpeg_ycbcr(ypl, _replicate2(cbpl, h, w), _replicate2(crpl, h, w))
        )
        assert a is not None and b is not None
        assert (a == b).all(), (h, w)


def test_jpeg_420_dense_blocks_match_transform_reference():
    """Dense (every-coefficient) content through the 4:2:0 scan: the decode
    must equal a quantize->dequantize->IDCT reference computed plane-by-plane
    with the module's transform halves — pinning the NEW layer (the
    MCU-interleaved entropy decode: four-Y-block raster order inside each
    MCU, per-component DC predictors, 16-aligned pad geometry) independently
    of the huffman layer's own round-trip tests."""
    from sport_data_pipeline_spark.operators.multimodal import (
        STD_CHROMA_QUANT,
        STD_LUMA_QUANT,
        _dct_matrix,
        _quantize_plane,
        decode_jpeg_rgb,
        encode_jpeg_ycbcr_420,
    )

    def ref_plane(plane, quant, gh, gw):
        pad = np.pad(
            plane, ((0, gh - plane.shape[0]), (0, gw - plane.shape[1])), mode="edge"
        )
        mat = _dct_matrix()
        q = np.asarray(quant, np.float64).reshape(8, 8)
        out = np.empty((gh, gw), np.uint8)
        for m, zz in enumerate(_quantize_plane(pad, quant)):
            s = np.asarray(zz, np.float64).reshape(8, 8) * q
            px = np.clip(np.rint(mat.T @ s @ mat) + 128, 0, 255).astype(np.uint8)
            by, bx = divmod(m, gw // 8)
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
        return out

    rng = np.random.default_rng(7)
    h, w = 24, 40  # 16-misaligned on the vertical axis: pad row of Y blocks
    ch, cw = (h + 1) // 2, (w + 1) // 2
    y = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
    cb = rng.integers(0, 256, size=(ch, cw)).astype(np.uint8)
    cr = rng.integers(0, 256, size=(ch, cw)).astype(np.uint8)
    dec = decode_jpeg_rgb(encode_jpeg_ycbcr_420(y, cb, cr))
    assert dec is not None and dec.shape == (h, w, 3)
    mcux, mcuy = (w + 15) // 16, (h + 15) // 16
    yr = ref_plane(y, STD_LUMA_QUANT, mcuy * 16, mcux * 16)[:h, :w]
    cbr = _replicate2(ref_plane(cb, STD_CHROMA_QUANT, mcuy * 8, mcux * 8), h, w)
    crr = _replicate2(ref_plane(cr, STD_CHROMA_QUANT, mcuy * 8, mcux * 8), h, w)
    assert (dec == _rgb_from_planes(yr, cbr, crr)).all()


def test_jpeg_420_encoder_validates_chroma_shape():
    """The encoder takes ALREADY-SUBSAMPLED chroma — a full-resolution (or
    otherwise mis-sized) plane must fail fast driver-side."""
    from sport_data_pipeline_spark.operators.multimodal import encode_jpeg_ycbcr_420

    y = np.full((16, 16), 128, np.uint8)
    full = np.full((16, 16), 128, np.uint8)
    with pytest.raises(ValueError, match="4:2:0 chroma"):
        encode_jpeg_ycbcr_420(y, full, full)
    with pytest.raises(ValueError, match="4:2:0 chroma"):
        encode_jpeg_ycbcr_420(y, np.full((8, 8), 128, np.uint8), full)


def test_resample_and_resize_validate_factor():
    """Bad factors fail fast driver-side (ValueError), never as an executor
    traceback mid-job."""
    from sport_data_pipeline_spark.operators.multimodal import (
        box_downsample_pcm,
        box_downsample_rgb,
    )

    with pytest.raises(ValueError, match="factor"):
        box_downsample_pcm(np.zeros(8, np.int16), 1, 0)
    with pytest.raises(ValueError, match="factor"):
        box_downsample_rgb(np.zeros((8, 8, 3), np.uint8), -2)
    # non-integer factors fail driver-side too (2.5 >= 1 but would
    # TypeError inside np.add.reduceat on every executor)
    with pytest.raises(ValueError, match="factor"):
        box_downsample_pcm(np.zeros(8, np.int16), 1, 2.5)
    with pytest.raises(ValueError, match="factor"):
        box_downsample_rgb(np.zeros((8, 8, 3), np.uint8), 2.5)


def test_stat_extractors_accept_injected_decoder(spark):
    """The production-codec seam is an interface: a caller-supplied
    ``decoder=`` callable (same bytes->decoded|None contract) replaces the
    pure default behind the identical operator shape, schema, and null
    discipline — here a stub that decodes ANY payload to a constant 2x2
    image, and None-rejects one id, without the payload being valid PNG."""
    from sport_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_pixel_stats,
    )

    def stub(b):
        if b is None or b == b"reject":
            return None
        return np.full((2, 2, 3), 10, np.uint8)

    rows = [(1, b"anything", "x", 0, None), (2, b"reject", "x", 0, None)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(2, "media_id")
    got = {r["media_id"]: r for r in extract_pixel_stats(df, decoder=stub).collect()}
    assert got[1]["n_px"] == 4 and got[1]["sum_r"] == 40 and got[1]["mean_g"] == 10.0
    assert got[2]["sum_r"] is None


def test_jpeg_dri_restart_gray_bitexact_and_equal_to_plain():
    """DRI/RSTn streams (T.81 E.1.4) are in profile: a grayscale encode
    with restart_interval=2 over a 6x2-MCU image (11 restart markers, n
    cycling past 8 so the modulo wrap is exercised) decodes bit-exactly
    — and identically to the same pixels encoded without DRI."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(3)
    px = _const_block_image(rng, 16, 95)  # 2x12 MCU grid -> 24 MCUs
    with_dri = encode_jpeg_gray(px, restart_interval=2)
    assert b"\xff\xdd" in with_dri
    dec = decode_jpeg_gray(with_dri)
    assert dec is not None and (dec == px).all()
    assert (dec == decode_jpeg_gray(encode_jpeg_gray(px))).all()


def test_jpeg_dri_restart_dense_color_444_and_420():
    """Restart markers with DENSE coefficient content through both color
    samplings: the predictor resets change the entropy stream, so equality
    with the no-DRI decode pins that every reset happened on both sides."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_rgb,
        encode_jpeg_ycbcr,
        encode_jpeg_ycbcr_420,
    )

    rng = np.random.default_rng(9)
    h, w = 24, 40
    y = rng.integers(0, 256, (h, w)).astype(np.uint8)
    cbf = rng.integers(0, 256, (h, w)).astype(np.uint8)
    crf = rng.integers(0, 256, (h, w)).astype(np.uint8)
    a = decode_jpeg_rgb(encode_jpeg_ycbcr(y, cbf, crf, restart_interval=3))
    b = decode_jpeg_rgb(encode_jpeg_ycbcr(y, cbf, crf))
    assert a is not None and (a == b).all()
    ch, cw = (h + 1) // 2, (w + 1) // 2
    cbs = rng.integers(0, 256, (ch, cw)).astype(np.uint8)
    crs = rng.integers(0, 256, (ch, cw)).astype(np.uint8)
    c = decode_jpeg_rgb(encode_jpeg_ycbcr_420(y, cbs, crs, restart_interval=1))
    d = decode_jpeg_rgb(encode_jpeg_ycbcr_420(y, cbs, crs))
    assert c is not None and (c == d).all()


def test_jpeg_dri_out_of_sequence_marker_yields_none():
    """The modulo-8 RSTn count is verified: tampering one restart marker's
    index (entropy data cannot contain 0xFF followed by 0xD0-0xD7 — only
    0xFF00 stuffing — so any such pair after SOS IS a marker) must yield
    None, never silently desynced pixels."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(5)
    px = _const_block_image(rng, 16, 95)
    enc = bytearray(encode_jpeg_gray(px, restart_interval=2))
    sos_at = bytes(enc).index(b"\xff\xda")
    for i in range(sos_at, len(enc) - 3):  # leave EOI alone
        if enc[i] == 0xFF and 0xD0 <= enc[i + 1] <= 0xD7:
            enc[i + 1] = 0xD0 + ((enc[i + 1] - 0xD0 + 1) % 8)
            break
    else:
        raise AssertionError("no restart marker found")
    assert decode_jpeg_gray(bytes(enc)) is None


def _ycbcr_422_planes(i, h, w):
    """4:2:2 fixture planes: full-res Y per-8x8-block constant (even
    levels), HORIZONTALLY-subsampled chroma per-8x8-block constant on the
    (h, ceil(w/2)) grid (128+17t levels)."""
    nbx, nby = (w + 7) // 8, (h + 7) // 8
    by, bx = np.mgrid[0:nby, 0:nbx]
    yb = (8 + 2 * ((7 * i + 3 * bx + 5 * by) % 120)).astype(np.uint8)
    cw = (w + 1) // 2
    ncbx = (cw + 7) // 8
    cby, cbx = np.mgrid[0:nby, 0:ncbx]
    cbb = (128 + 17 * (((11 * i + cbx + 2 * cby) % 15) - 7)).astype(np.uint8)
    crb = (128 + 17 * (((13 * i + 2 * cbx + cby) % 15) - 7)).astype(np.uint8)

    def up(a, hh, ww):
        return np.kron(a, np.ones((8, 8), np.uint8))[:hh, :ww]

    return up(yb, h, w), up(cbb, h, cw), up(crb, h, cw)


def _replicate_cols(a, h, w):
    return np.repeat(a, 2, axis=1)[:h, :w]


def test_jpeg_422_constant_blocks_bitexact():
    """4:2:2 (two-Y-block MCUs, horizontal-only chroma subsampling) round
    trip on the exactness-contract levels: exact 16x8-MCU multiple, 16-
    misaligned width (edge pad/crop), odd width (ragged ceil(w/2) chroma),
    and a single-MCU-row image."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_rgb,
        encode_jpeg_ycbcr_422,
    )

    for i, (h, w) in enumerate([(16, 16), (21, 29), (17, 17), (8, 50)]):
        ypl, cbpl, crpl = _ycbcr_422_planes(i, h, w)
        dec = decode_jpeg_rgb(encode_jpeg_ycbcr_422(ypl, cbpl, crpl))
        assert dec is not None and dec.shape == (h, w, 3), (h, w)
        exp = _rgb_from_planes(
            ypl, _replicate_cols(cbpl, h, w), _replicate_cols(crpl, h, w)
        )
        assert (dec == exp).all(), (h, w)


def test_jpeg_422_matches_444_on_replicated_chroma():
    """The pinned column-replication upsample, cross-checked through the
    codec: a 4:2:2 stream and a 4:4:4 stream built from the column-
    replicated chroma planes decode identically (both exact on constant
    blocks)."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_rgb,
        encode_jpeg_ycbcr,
        encode_jpeg_ycbcr_422,
    )

    for i, (h, w) in enumerate([(16, 16), (21, 29)]):
        ypl, cbpl, crpl = _ycbcr_422_planes(i, h, w)
        a = decode_jpeg_rgb(encode_jpeg_ycbcr_422(ypl, cbpl, crpl))
        b = decode_jpeg_rgb(
            encode_jpeg_ycbcr(
                ypl, _replicate_cols(cbpl, h, w), _replicate_cols(crpl, h, w)
            )
        )
        assert a is not None and b is not None
        assert (a == b).all(), (h, w)


def test_jpeg_422_dense_blocks_match_transform_reference():
    """Dense content through the 4:2:2 scan vs the quantize->dequantize->
    IDCT reference — pins the two-Y-block MCU raster, per-component
    predictors, and 16x8 pad geometry independently of the huffman
    layer; includes a DRI variant (restart_interval=2) that must decode
    identically."""
    from sport_data_pipeline_spark.operators.multimodal import (
        STD_CHROMA_QUANT,
        STD_LUMA_QUANT,
        _dct_matrix,
        _quantize_plane,
        decode_jpeg_rgb,
        encode_jpeg_ycbcr_422,
    )

    def ref_plane(plane, quant, gh, gw):
        pad = np.pad(
            plane, ((0, gh - plane.shape[0]), (0, gw - plane.shape[1])), mode="edge"
        )
        mat = _dct_matrix()
        q = np.asarray(quant, np.float64).reshape(8, 8)
        out = np.empty((gh, gw), np.uint8)
        for m, zz in enumerate(_quantize_plane(pad, quant)):
            s = np.asarray(zz, np.float64).reshape(8, 8) * q
            px = np.clip(np.rint(mat.T @ s @ mat) + 128, 0, 255).astype(np.uint8)
            by, bx = divmod(m, gw // 8)
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
        return out

    rng = np.random.default_rng(11)
    h, w = 20, 40  # 8-misaligned height: pad row; exact 16-multiple width
    cw = (w + 1) // 2
    y = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
    cb = rng.integers(0, 256, size=(h, cw)).astype(np.uint8)
    cr = rng.integers(0, 256, size=(h, cw)).astype(np.uint8)
    dec = decode_jpeg_rgb(encode_jpeg_ycbcr_422(y, cb, cr))
    assert dec is not None and dec.shape == (h, w, 3)
    mcux, mcuy = (w + 15) // 16, (h + 7) // 8
    yr = ref_plane(y, STD_LUMA_QUANT, mcuy * 8, mcux * 16)[:h, :w]
    cbr = _replicate_cols(ref_plane(cb, STD_CHROMA_QUANT, mcuy * 8, mcux * 8), h, w)
    crr = _replicate_cols(ref_plane(cr, STD_CHROMA_QUANT, mcuy * 8, mcux * 8), h, w)
    assert (dec == _rgb_from_planes(yr, cbr, crr)).all()
    dri = decode_jpeg_rgb(encode_jpeg_ycbcr_422(y, cb, cr, restart_interval=2))
    assert dri is not None and (dri == dec).all()


def test_jpeg_422_encoder_validates_chroma_shape():
    from sport_data_pipeline_spark.operators.multimodal import encode_jpeg_ycbcr_422

    y = np.full((16, 16), 128, np.uint8)
    with pytest.raises(ValueError, match="4:2:2 chroma"):
        encode_jpeg_ycbcr_422(y, y, y)  # full-res chroma
    with pytest.raises(ValueError, match="4:2:2 chroma"):
        encode_jpeg_ycbcr_422(
            y, np.full((8, 8), 128, np.uint8), np.full((8, 8), 128, np.uint8)
        )  # 4:2:0-shaped chroma


def test_jpeg_progressive_equals_baseline_dense_gray_and_444():
    """PROGRESSIVE decode (SOF2, T.81 Annex G): the multi-scan
    coefficient accumulation (spectral selection bands 1-5/6-63 +
    successive approximation Al=1 -> refinement Al=0) must reconstruct
    EXACTLY the coefficients the single-scan baseline codes, so on
    identical input planes the progressive and baseline decodes are
    bit-identical — for ANY content, not just the constant-block
    exactness levels."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_gray,
        decode_jpeg_rgb,
        encode_jpeg_gray,
        encode_jpeg_progressive,
        encode_jpeg_ycbcr,
    )

    rng = np.random.default_rng(2)
    for h, w in [(8, 8), (21, 29), (17, 40), (64, 64)]:
        px = rng.integers(0, 256, (h, w)).astype(np.uint8)
        dec = decode_jpeg_gray(encode_jpeg_progressive(px))
        assert dec is not None and dec.shape == (h, w), (h, w)
        assert (dec == decode_jpeg_gray(encode_jpeg_gray(px))).all(), (h, w)
    for h, w in [(16, 16), (21, 29), (40, 56)]:
        y = rng.integers(0, 256, (h, w)).astype(np.uint8)
        cbf = rng.integers(0, 256, (h, w)).astype(np.uint8)
        crf = rng.integers(0, 256, (h, w)).astype(np.uint8)
        a = decode_jpeg_rgb(encode_jpeg_progressive(y, cbf, crf))
        b = decode_jpeg_rgb(encode_jpeg_ycbcr(y, cbf, crf))
        assert a is not None and (a == b).all(), (h, w)


def test_jpeg_progressive_equals_baseline_subsampled():
    """Progressive at the SUBSAMPLED layouts: interleaved multi-block DC
    MCUs (four Y at 4:2:0, two at 4:2:2) and non-interleaved AC scans
    over each component's TRUE block grid (MCU pad blocks are never
    AC-coded — T.81 A.2.2; sizes with tnbx < nbx exercise exactly that
    skip). Equality with the baseline twins after crop pins both."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_rgb,
        encode_jpeg_progressive,
        encode_jpeg_ycbcr_420,
        encode_jpeg_ycbcr_422,
    )

    rng = np.random.default_rng(3)
    for h, w in [(16, 16), (21, 29), (17, 17), (24, 40)]:
        y = rng.integers(0, 256, (h, w)).astype(np.uint8)
        ch, cw = (h + 1) // 2, (w + 1) // 2
        cbs = rng.integers(0, 256, (ch, cw)).astype(np.uint8)
        crs = rng.integers(0, 256, (ch, cw)).astype(np.uint8)
        a = decode_jpeg_rgb(encode_jpeg_progressive(y, cbs, crs, sampling="420"))
        b = decode_jpeg_rgb(encode_jpeg_ycbcr_420(y, cbs, crs))
        assert a is not None and (a == b).all(), ("420", h, w)
    for h, w in [(16, 16), (21, 29), (8, 50)]:
        y = rng.integers(0, 256, (h, w)).astype(np.uint8)
        cw = (w + 1) // 2
        cbs = rng.integers(0, 256, (h, cw)).astype(np.uint8)
        crs = rng.integers(0, 256, (h, cw)).astype(np.uint8)
        a = decode_jpeg_rgb(encode_jpeg_progressive(y, cbs, crs, sampling="422"))
        b = decode_jpeg_rgb(encode_jpeg_ycbcr_422(y, cbs, crs))
        assert a is not None and (a == b).all(), ("422", h, w)


def test_jpeg_progressive_sparse_and_constant_content():
    """EOB-heavy streams: smooth content (long zero runs, ZRL + EOB runs
    in first AND refinement scans) and constant blocks (DC-only; every AC
    scan is pure EOB runs) — the constant case lands on the exactness
    contract, so the decode equals the source pixels, not just the
    baseline twin."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
        encode_jpeg_progressive,
    )

    xs, ys = np.meshgrid(np.arange(48), np.arange(48))
    smooth = (128 + 60 * np.sin(xs / 10) * np.cos(ys / 13)).astype(np.uint8)
    assert (
        decode_jpeg_gray(encode_jpeg_progressive(smooth))
        == decode_jpeg_gray(encode_jpeg_gray(smooth))
    ).all()
    const = np.kron(
        (np.arange(24, dtype=np.uint8).reshape(4, 6) * 4 + 8),
        np.ones((8, 8), np.uint8),
    )
    assert (decode_jpeg_gray(encode_jpeg_progressive(const)) == const).all()


def test_jpeg_progressive_rejects_malformed():
    """Null discipline for the multi-scan path: header-only SOF2 streams
    (no scan), truncation mid-scan, a baseline full-band scan mislabeled
    SOF2 (Se=63 DC scan), and a bad sampling argument all fail clean."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_gray,
        decode_jpeg_rgb,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (16, 16)).astype(np.uint8)
    good = encode_jpeg_progressive(px)
    assert decode_jpeg_gray(good[:60]) is None  # truncated in tables
    assert decode_jpeg_gray(good[:-20]) is None  # truncated mid-scan
    sos_at = good.index(b"\xff\xda")
    assert decode_jpeg_gray(good[:sos_at] + b"\xff\xd9") is None  # no scan
    # grayscale stream through the color wrapper stays None
    assert decode_jpeg_rgb(good) is None
    with pytest.raises(ValueError, match="unsupported sampling"):
        encode_jpeg_progressive(px, px, px, sampling="411")


def test_jpeg_progressive_restart_streams_decode_identically():
    """DRI/RSTn inside PROGRESSIVE scans: restarts reset the DC predictors
    AND the EOB run per T.81 E.1.4 applied per Annex-G scan — a
    restart-bearing progressive stream must decode identically to the
    marker-free twin, across gray, 4:4:4, and 4:2:0 (multi-block DC MCUs
    hit the unit-boundary counting)."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_gray,
        decode_jpeg_rgb,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(4)
    px = rng.integers(0, 256, (24, 40)).astype(np.uint8)
    a = decode_jpeg_gray(encode_jpeg_progressive(px, restart_interval=2))
    assert a is not None and (a == decode_jpeg_gray(encode_jpeg_progressive(px))).all()
    y = rng.integers(0, 256, (21, 29)).astype(np.uint8)
    cbf = rng.integers(0, 256, (21, 29)).astype(np.uint8)
    crf = rng.integers(0, 256, (21, 29)).astype(np.uint8)
    b = decode_jpeg_rgb(encode_jpeg_progressive(y, cbf, crf, restart_interval=3))
    assert b is not None
    assert (b == decode_jpeg_rgb(encode_jpeg_progressive(y, cbf, crf))).all()
    y2 = rng.integers(0, 256, (21, 29)).astype(np.uint8)
    cbs = rng.integers(0, 256, (11, 15)).astype(np.uint8)
    crs = rng.integers(0, 256, (11, 15)).astype(np.uint8)
    c = decode_jpeg_rgb(
        encode_jpeg_progressive(y2, cbs, crs, sampling="420", restart_interval=1)
    )
    assert c is not None
    assert (
        c == decode_jpeg_rgb(encode_jpeg_progressive(y2, cbs, crs, sampling="420"))
    ).all()


def test_decoders_survive_random_corruption():
    """Robustness fuzz over every pixel/sample decoder: random byte
    flips/truncations/insertions of valid streams must yield None or a
    well-shaped array — never an exception, never a pathological
    allocation (decode-bomb guards: _MAX_DECODE_PIXELS + the bounded PNG
    inflate). Executors ingest untrusted media; a crash or OOM here is a
    job failure, not a NULL row."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_gif_rgb,
        decode_jpeg_gray,
        decode_jpeg_rgb,
        decode_png_rgb,
        decode_wav_pcm,
        encode_gif_rgb,
        encode_jpeg_gray,
        encode_jpeg_progressive,
        encode_jpeg_ycbcr,
        encode_jpeg_ycbcr_420,
        encode_png_rgb,
        encode_wav_pcm,
    )

    rng = np.random.default_rng(17)
    g = rng.integers(0, 256, (16, 16)).astype(np.uint8)
    c = [rng.integers(0, 256, (16, 16)).astype(np.uint8) for _ in range(3)]
    sub = [rng.integers(0, 256, (8, 8)).astype(np.uint8) for _ in range(2)]
    wav = rng.integers(-32768, 32768, 256).astype(np.int16)
    pal = [(j, (5 * j) % 256, (9 * j) % 256) for j in range(16)]
    cases = [
        (decode_png_rgb, encode_png_rgb(np.dstack(c))),
        (decode_gif_rgb, encode_gif_rgb(
            rng.integers(0, 16, (16, 16)).astype(np.uint8), pal, interlace=True)),
        (decode_jpeg_gray, encode_jpeg_gray(g, restart_interval=2)),
        (decode_jpeg_rgb, encode_jpeg_ycbcr(*c)),
        (decode_jpeg_rgb, encode_jpeg_ycbcr_420(g, *sub)),
        (decode_jpeg_rgb, encode_jpeg_progressive(*c)),
        (decode_wav_pcm, encode_wav_pcm(wav, 8000, 2)),
    ]
    for fn, good in cases:
        assert fn(good) is not None
        for _ in range(120):
            buf = bytearray(good)
            mode = rng.integers(0, 3)
            if mode == 0:  # flip 1-4 bytes anywhere
                for _ in range(int(rng.integers(1, 5))):
                    buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
            elif mode == 1:  # truncate
                buf = buf[: int(rng.integers(0, len(buf)))]
            else:  # insert garbage mid-stream
                at = int(rng.integers(0, len(buf)))
                buf[at:at] = bytes(rng.integers(0, 256, int(rng.integers(1, 16))).astype(np.uint8))
            out = fn(bytes(buf))  # must not raise
            if out is not None:
                assert getattr(out, "size", 1) >= 0  # well-formed result


def test_decode_bomb_guards():
    """Hostile-header DoS guards: a 65535x65535 SOF and a 500 MB-inflating
    zip-bomb IDAT must both reject as None WITHOUT materializing the
    declared buffers (peak allocation stays in the low MBs)."""
    import struct as _s
    import tracemalloc
    import zlib

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_gray,
        decode_png_rgb,
        encode_jpeg_gray,
    )

    good = encode_jpeg_gray(np.full((16, 16), 64, np.uint8))
    sof_at = good.index(b"\xff\xc0")
    bomb = bytearray(good)
    bomb[sof_at + 5 : sof_at + 9] = _s.pack(">HH", 65535, 65535)
    assert decode_jpeg_gray(bytes(bomb)) is None

    def chunk(typ, data):
        return (
            _s.pack(">I", len(data)) + typ + data
            + _s.pack(">I", zlib.crc32(typ + data))
        )

    idat = zlib.compress(b"\x00" * (500 * 1024 * 1024), 9)  # ~0.5 MB packed
    ihdr = _s.pack(">II", 100, 100) + b"\x08\x02\x00\x00\x00"
    png_bomb = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    )
    tracemalloc.start()
    out = decode_png_rgb(png_bomb)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert out is None and peak < 50 * 1024 * 1024, peak
    # huge-dims PNG header rejects too
    ihdr2 = _s.pack(">II", 60000, 60000) + b"\x08\x02\x00\x00\x00"
    png_dims = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr2)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10)) + chunk(b"IEND", b"")
    )
    assert decode_png_rgb(png_dims) is None


def test_jpeg_sampling_matrix():
    """The FULL Y-subsampled layout matrix through the generic encoder
    (encode_jpeg_ycbcr_subsampled) and the generic decode: for every
    spec-legal (h, v) with h*v in 2..8 — including 4:4:0 (1,2), 4:1:1
    (4,1), and the rarer 1x4/4x2/2x4/3x1/1x3 — dense content must equal
    the per-plane quantize->dequantize->IDCT reference with the per-axis
    replication upsample; a DRI variant must decode identically. This is
    what licenses the decoder's generic sampling gate: every accepted
    layout is pinned, not just the three common ones."""
    from sport_data_pipeline_spark.operators.multimodal import (
        STD_CHROMA_QUANT,
        STD_LUMA_QUANT,
        _dct_matrix,
        _quantize_plane,
        decode_jpeg_rgb,
        encode_jpeg_ycbcr_subsampled,
    )

    def ref_plane(plane, quant, gh, gw):
        pad = np.pad(
            plane, ((0, gh - plane.shape[0]), (0, gw - plane.shape[1])), mode="edge"
        )
        mat = _dct_matrix()
        q = np.asarray(quant, np.float64).reshape(8, 8)
        out = np.empty((gh, gw), np.uint8)
        for m, zz in enumerate(_quantize_plane(pad, quant)):
            s = np.asarray(zz, np.float64).reshape(8, 8) * q
            px = np.clip(np.rint(mat.T @ s @ mat) + 128, 0, 255).astype(np.uint8)
            by, bx = divmod(m, gw // 8)
            out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
        return out

    rng = np.random.default_rng(13)
    h, w = 21, 29  # misaligned against every MCU geometry in the matrix
    layouts = [(1, 2), (4, 1), (1, 4), (4, 2), (2, 4), (3, 1), (1, 3), (2, 2), (2, 1)]
    for sh, sv in layouts:
        y = rng.integers(0, 256, (h, w)).astype(np.uint8)
        ch, cw = (h + sv - 1) // sv, (w + sh - 1) // sh
        cb = rng.integers(0, 256, (ch, cw)).astype(np.uint8)
        cr = rng.integers(0, 256, (ch, cw)).astype(np.uint8)
        dec = decode_jpeg_rgb(encode_jpeg_ycbcr_subsampled(y, cb, cr, (sh, sv)))
        assert dec is not None and dec.shape == (h, w, 3), (sh, sv)
        mcux = (w + 8 * sh - 1) // (8 * sh)
        mcuy = (h + 8 * sv - 1) // (8 * sv)
        yr = ref_plane(y, STD_LUMA_QUANT, mcuy * 8 * sv, mcux * 8 * sh)[:h, :w]

        def up(a):
            return np.repeat(np.repeat(a, sv, axis=0), sh, axis=1)[:h, :w]

        cbr = up(ref_plane(cb, STD_CHROMA_QUANT, mcuy * 8, mcux * 8))
        crr = up(ref_plane(cr, STD_CHROMA_QUANT, mcuy * 8, mcux * 8))
        assert (dec == _rgb_from_planes(yr, cbr, crr)).all(), (sh, sv)
        dri = decode_jpeg_rgb(
            encode_jpeg_ycbcr_subsampled(y, cb, cr, (sh, sv), restart_interval=2)
        )
        assert dri is not None and (dri == dec).all(), (sh, sv)
    with pytest.raises(ValueError, match="y_sampling"):
        encode_jpeg_ycbcr_subsampled(
            np.zeros((8, 8), np.uint8), np.zeros((3, 3), np.uint8),
            np.zeros((3, 3), np.uint8), (3, 3),
        )


def test_jpeg_specialized_encoders_delegate():
    """encode_jpeg_ycbcr_420/422 are thin delegates of the generic
    encode_jpeg_ycbcr_subsampled at (2,2)/(2,1): output must be
    byte-identical (the pin that licensed collapsing the duplicated
    MCU-raster/pad/header code into one implementation)."""
    from sport_data_pipeline_spark.operators.multimodal import (
        encode_jpeg_ycbcr_420,
        encode_jpeg_ycbcr_422,
        encode_jpeg_ycbcr_subsampled,
    )

    rng = np.random.default_rng(8)
    for h, w in [(16, 16), (21, 29), (17, 17)]:
        y = rng.integers(0, 256, (h, w)).astype(np.uint8)
        ch, cw = (h + 1) // 2, (w + 1) // 2
        cb = rng.integers(0, 256, (ch, cw)).astype(np.uint8)
        cr = rng.integers(0, 256, (ch, cw)).astype(np.uint8)
        for ri in (0, 2):
            assert encode_jpeg_ycbcr_420(
                y, cb, cr, restart_interval=ri
            ) == encode_jpeg_ycbcr_subsampled(y, cb, cr, (2, 2), restart_interval=ri)
        cb2 = rng.integers(0, 256, (h, cw)).astype(np.uint8)
        cr2 = rng.integers(0, 256, (h, cw)).astype(np.uint8)
        for ri in (0, 3):
            assert encode_jpeg_ycbcr_422(
                y, cb2, cr2, restart_interval=ri
            ) == encode_jpeg_ycbcr_subsampled(y, cb2, cr2, (2, 1), restart_interval=ri)


def test_gif_lzw_layer_roundtrip_growth_and_reset():
    """GIF LZW alone: a 20k-symbol small-alphabet sequence forces code
    widths to grow to 12 bits and the dictionary to hit 4096 (clear-code
    reset path on BOTH sides); decode must reproduce the sequence exactly
    and reject overshoot."""
    from sport_data_pipeline_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    rng = np.random.default_rng(9)
    seq = rng.integers(0, 4, 20000).astype(np.uint8)
    enc = _gif_lzw_encode(seq, 2)
    dec = _gif_lzw_decode(enc, 2, len(seq))
    assert dec is not None and bytes(dec) == bytes(seq)
    assert _gif_lzw_decode(enc, 2, len(seq) - 1) is None  # overshoot guard


def test_gif_lzw_final_code_on_width_boundary():
    """End-of-stream corner: the decoder adds a table entry for EVERY data
    code including the last, so when that final entry lands exactly on a
    1<<width boundary the decoder reads END at width+1 — the encoder must
    perform the same virtual assignment before writing END (hypothesis
    found a 22x22 frame hitting this at width 8; r15 fix). Sweep lengths
    around every growth boundary for two alphabet sizes so the final data
    code lands on each side of each bump."""
    from sport_data_pipeline_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    for mcs in (2, 3):
        for ln in range(1, 700):
            rng = np.random.default_rng(mcs * 10_000 + ln)
            seq = rng.integers(0, 1 << mcs, ln).astype(np.uint8)
            enc = _gif_lzw_encode(seq, mcs)
            dec = _gif_lzw_decode(enc, mcs, ln)
            assert dec is not None and bytes(dec) == bytes(seq), (mcs, ln)


def test_gif_roundtrip_bitexact_matrix():
    """GIF is lossless: encode(index, palette) -> decode must reproduce
    palette[index] exactly across palette sizes (2/4/16/256 — different
    min-code-sizes), dimensions (incl. 1x1), and interlaced storage
    (4-pass de-weave; index formulas depend on y, so a de-weave bug
    changes values, not just order)."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_gif_rgb,
        encode_gif_rgb,
    )

    rng = np.random.default_rng(9)
    for p in (2, 4, 16, 256):
        pal = [((3 * j + 5) % 256, (7 * j + 1) % 256, (11 * j + 4) % 256) for j in range(p)]
        for h, w in [(1, 1), (7, 13), (21, 29)]:
            idx = rng.integers(0, p, (h, w)).astype(np.uint8)
            for inter in (False, True):
                dec = decode_gif_rgb(encode_gif_rgb(idx, pal, interlace=inter))
                assert dec is not None and dec.shape == (h, w, 3), (p, h, w, inter)
                assert (dec == np.array(pal, np.uint8)[idx]).all(), (p, h, w, inter)


def test_gif_multiframe_and_out_of_profile():
    """decode_gif_frames: one RGB frame per image descriptor; profile
    honesty — transparency GCEs, partial-canvas frames, missing color
    tables, truncations, and bomb dimensions all yield None."""
    import struct as _s

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif_rgb,
    )

    rng = np.random.default_rng(11)
    pal = [(j, (2 * j) % 256, (3 * j) % 256) for j in range(16)]
    one = encode_gif_rgb(rng.integers(0, 16, (9, 11)).astype(np.uint8), pal)
    img_at = one.index(b"\x2c")
    two = one[:-1] + one[img_at:-1] + b"\x3b"
    fr = decode_gif_frames(two)
    assert fr is not None and len(fr) == 2 and (fr[0] == fr[1]).all()
    # transparency GCE: out of profile
    gce = b"\x21\xf9\x04\x01\x00\x00\x00\x00"
    assert decode_gif_frames(one[:img_at] + gce + one[img_at:]) is None
    # opaque GCE is fine (skipped)
    gce_ok = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    ok = decode_gif_frames(one[:img_at] + gce_ok + one[img_at:])
    assert ok is not None and len(ok) == 1
    # partial-canvas frame: shrink the descriptor's frame height
    part = bytearray(one)
    part[img_at + 7 : img_at + 9] = _s.pack("<H", 5)
    assert decode_gif_frames(bytes(part)) is None
    # truncated mid-LZW and no-color-table streams reject
    assert decode_gif_frames(one[:-6]) is None
    nogct = bytearray(one)
    nogct[10] &= 0x7F  # clear GCT flag but leave bytes: descriptor byte garbage
    assert decode_gif_frames(bytes(nogct)) is None
    # bomb dims
    bomb = bytearray(one)
    bomb[6:10] = _s.pack("<HH", 60000, 60000)
    assert decode_gif_frames(bytes(bomb)) is None


def test_gif_through_pixel_stats_decoder_seam(spark):
    """The decoder= seam carries GIF through the SAME distributed stats
    operator as PNG: extract_pixel_stats(df, decoder=decode_gif_rgb)."""
    from sport_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_gif_rgb,
        encode_gif_rgb,
        extract_pixel_stats,
    )

    rng = np.random.default_rng(3)
    pal = [((3 * j + 5) % 256, (7 * j + 1) % 256, (11 * j + 4) % 256) for j in range(16)]
    rows, want = [], {}
    for i in range(4):
        idx = rng.integers(0, 16, (9 + i, 11 + i)).astype(np.uint8)
        rows.append((i, encode_gif_rgb(idx, pal, interlace=bool(i % 2)), "image/gif", 0, None))
        want[i] = tuple(
            int(x) for x in np.array(pal, np.int64)[idx].reshape(-1, 3).sum(axis=0)
        )
    rows.append((9, b"GIF89a-garbage", "image/gif", 0, None))
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3, "media_id")
    got = {r["media_id"]: r for r in extract_pixel_stats(df, decoder=decode_gif_rgb).collect()}
    assert got[9]["sum_r"] is None
    for i, (sr, sg, sb) in want.items():
        assert (got[i]["sum_r"], got[i]["sum_g"], got[i]["sum_b"]) == (sr, sg, sb)


def test_g711_expansion_tables_anchors_and_symmetry():
    """The G.711 expansion tables against the published anchor values
    (ITU-T G.711: u-law 0x00/0x80 are the +-32124 extremes and 0xFF/0x7F
    the zeros; A-law 0x2A/0xAA are the +-32256 extremes, 0xD5/0x55 the
    +-8 minima) and the sign-bit symmetry both laws guarantee."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        _ALAW_TO_PCM,
        _ULAW_TO_PCM,
    )

    assert _ULAW_TO_PCM[0x00] == -32124 and _ULAW_TO_PCM[0x80] == 32124
    assert _ULAW_TO_PCM[0xFF] == 0 and _ULAW_TO_PCM[0x7F] == 0
    assert _ALAW_TO_PCM[0x2A] == -32256 and _ALAW_TO_PCM[0xAA] == 32256
    assert _ALAW_TO_PCM[0xD5] == 8 and _ALAW_TO_PCM[0x55] == -8
    c = np.arange(256)
    assert (_ULAW_TO_PCM[c] == -_ULAW_TO_PCM[c ^ 0x80].astype(np.int32)).all()
    assert (_ALAW_TO_PCM[c] == -_ALAW_TO_PCM[c ^ 0x80].astype(np.int32)).all()
    # monotone decreasing over each law's positive code ramp
    assert (np.diff(_ULAW_TO_PCM[0x80:0x100].astype(np.int32)) <= 0).all()


def test_g711_wav_roundtrip_and_distributed_stats(spark):
    """Formats 6/7 through the full WAV plumbing: every code byte decodes
    to its table value, and the DISTRIBUTED stats operator consumes G.711
    payloads unchanged (the expansion yields int16, the operator's native
    domain). 16-bit PCM format-1 behavior is untouched."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _ALAW_TO_PCM,
        _ULAW_TO_PCM,
        decode_wav_pcm,
        encode_wav_g711,
        extract_audio_stats,
    )

    codes = np.arange(256, dtype=np.uint8)
    for law, table in (("ulaw", _ULAW_TO_PCM), ("alaw", _ALAW_TO_PCM)):
        ch, rate, s = decode_wav_pcm(encode_wav_g711(np.tile(codes, 2), 8000, 2, law))
        assert (ch, rate) == (2, 8000) and (s == np.tile(table[codes], 2)).all()
    # odd byte count: RIFF pad byte must not corrupt the sample count
    ch, _, s = decode_wav_pcm(encode_wav_g711(codes[:255], 8000, 1, "ulaw"))
    assert s.size == 255
    rows = [
        (1, encode_wav_g711(codes, 8000, 1, "ulaw"), "audio/basic", 0, None),
        (2, encode_wav_g711(codes, 8000, 1, "alaw"), "audio/basic", 0, None),
        (3, b"RIFFxxxxNOPE", "audio/basic", 0, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(2, "media_id")
    got = {r["media_id"]: r for r in extract_audio_stats(df).collect()}
    v = _ULAW_TO_PCM[codes].astype(np.int64)
    assert got[1]["sum_sq"] == int((v * v).sum()) and got[1]["peak"] == 32124
    a = _ALAW_TO_PCM[codes].astype(np.int64)
    assert got[2]["sum_abs"] == int(np.abs(a).sum()) and got[2]["peak"] == 32256
    assert got[3]["sum_sq"] is None


def test_mp4_co64_and_largesize_boxes():
    """ISO-BMFF variants real muxers emit for >4 GB output: co64 (64-bit
    chunk offsets) must locate exactly the same samples as stco, and a
    largesize (size==1, 64-bit) mdat header must still resolve — the
    walker reads the extended size and the samples land at the patched
    offsets."""
    import struct as _s

    from sport_data_pipeline_spark.operators.multimodal import (
        build_mp4_mjpeg,
        decode_jpeg_gray,
        encode_jpeg_gray,
        parse_mp4_samples,
    )

    frames = [encode_jpeg_gray(np.full((16, 16), 40 + 8 * i, np.uint8)) for i in range(3)]
    a = build_mp4_mjpeg(frames)
    b = build_mp4_mjpeg(frames, use_co64=True)
    sa, sb = parse_mp4_samples(a), parse_mp4_samples(b)
    assert sa is not None and sb is not None
    assert [a[o : o + n] for o, n in sa] == frames
    assert [b[o : o + n] for o, n in sb] == frames
    assert decode_jpeg_gray(b[sb[0][0] : sb[0][0] + sb[0][1]]) is not None
    # rewrap mdat as a largesize box (+8 bytes of header) and patch the
    # single stco chunk offset to match
    mdat_at = a.index(b"mdat") - 4
    (old_size,) = _s.unpack(">I", a[mdat_at : mdat_at + 4])
    big = (
        a[:mdat_at]
        + _s.pack(">I", 1) + b"mdat" + _s.pack(">Q", old_size + 8)
        + a[mdat_at + 8 :]
    )
    stco_at = big.index(b"stco")
    (off,) = _s.unpack(">I", big[stco_at + 12 : stco_at + 16])
    big = big[: stco_at + 12] + _s.pack(">I", off + 8) + big[stco_at + 16 :]
    sc = parse_mp4_samples(big)
    assert sc is not None and [big[o : o + n] for o, n in sc] == frames


def test_png_gray_and_indexed_roundtrip():
    """PNG color types 0 (grayscale, replicated to RGB) and 3 (PLTE
    lookup) decode bit-exactly with the filter displacement at bpp=1 —
    the default filter cycling exercises all five un-filter paths on
    single-byte pixels, where 'left' is the previous BYTE, not the
    previous 3-byte pixel."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_png_rgb,
        encode_png_gray,
        encode_png_indexed,
    )

    rng = np.random.default_rng(12)
    for h, w in [(5, 1), (23, 31), (6, 7)]:
        g = rng.integers(0, 256, (h, w)).astype(np.uint8)
        dec = decode_png_rgb(encode_png_gray(g))
        assert dec is not None and (dec == np.repeat(g[:, :, None], 3, axis=2)).all()
    pal = [((3 * j + 5) % 256, (7 * j + 1) % 256, (11 * j + 4) % 256) for j in range(16)]
    for h, w in [(17, 13), (8, 40)]:
        idx = rng.integers(0, 16, (h, w)).astype(np.uint8)
        dec = decode_png_rgb(encode_png_indexed(idx, pal))
        assert dec is not None and (dec == np.array(pal, np.uint8)[idx]).all()


def test_png_out_of_profile_color_types():
    """Profile honesty: alpha color types (4/6), tRNS transparency,
    indexed streams without PLTE, and indices past the palette end all
    yield None."""
    import struct as _s
    import zlib

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_png_rgb,
        encode_png_gray,
        encode_png_indexed,
    )

    g = np.full((8, 8), 77, np.uint8)
    good = encode_png_gray(g)
    ihdr_at = good.index(b"IHDR")
    for ct in (4, 6):  # gray+alpha, RGBA
        bad = bytearray(good)
        bad[ihdr_at + 13] = ct
        assert decode_png_rgb(bytes(bad)) is None

    def chunk(typ, data):
        return (
            _s.pack(">I", len(data)) + typ + data
            + _s.pack(">I", zlib.crc32(typ + data))
        )

    # splice a tRNS chunk before IDAT
    idat_at = good.index(b"IDAT") - 4
    with_trns = good[:idat_at] + chunk(b"tRNS", b"\x00") + good[idat_at:]
    assert decode_png_rgb(with_trns) is None
    # indexed without PLTE
    pal = [(j, j, j) for j in range(4)]
    idxed = encode_png_indexed(np.zeros((4, 4), np.uint8), pal)
    plte_at = idxed.index(b"PLTE") - 4
    (plen,) = _s.unpack(">I", idxed[plte_at : plte_at + 4])
    no_plte = idxed[:plte_at] + idxed[plte_at + 12 + plen :]
    assert decode_png_rgb(no_plte) is None
    # index beyond palette: rebuild IDAT with an out-of-range index
    big = encode_png_indexed(np.full((2, 2), 3, np.uint8), pal)
    raw = b"".join(b"\x00" + bytes([9, 9]) for _ in range(2))  # idx 9 >= 4
    new_idat = chunk(b"IDAT", zlib.compress(raw))
    i_at = big.index(b"IDAT") - 4
    (ilen,) = _s.unpack(">I", big[i_at : i_at + 4])
    assert decode_png_rgb(big[:i_at] + new_idat + big[i_at + 12 + ilen :]) is None


def test_wav_8bit_pcm_decodes_to_full_scale_int16():
    """WAV format 1 at 8 bits: unsigned samples with the spec's 128
    offset expand to int16 full scale as (v - 128) << 8 (the SoX/ffmpeg
    u8->s16 convention), so stats/resampling operate in one domain."""
    import struct as _s

    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import decode_wav_pcm

    v = np.arange(256, dtype=np.uint8)
    data = v.tobytes()
    fmt = b"fmt " + _s.pack("<IHHIIHH", 16, 1, 2, 8000, 8000 * 2, 2, 8)
    body = b"WAVE" + fmt + b"data" + _s.pack("<I", len(data)) + data
    wav = b"RIFF" + _s.pack("<I", len(body)) + body
    ch, rate, s = decode_wav_pcm(wav)
    assert (ch, rate) == (2, 8000)
    assert s.dtype == np.int16
    exp = ((v.astype(np.int16) - 128) << 8).astype(np.int16)
    assert (s == exp).all()
    assert s.min() == -32768 and s.max() == 32512 and s[128] == 0
    # partial frame (odd byte count at 2 channels) rejects
    bad_body = b"WAVE" + fmt + b"data" + _s.pack("<I", 3) + data[:3]
    assert decode_wav_pcm(b"RIFF" + _s.pack("<I", len(bad_body)) + bad_body) is None


def test_adpcm_roundtrip_matches_encoder_reconstruction():
    """IMA ADPCM is lossy against the input but decode(encode(x)) must
    equal the encoder's internal reconstruction bit-exactly (mono and
    stereo, step index carried across blocks) — encoder and decoder
    share `_adpcm_step`'s exact shift-sum arithmetic, so an independent
    per-sample simulation pins both."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        _ADPCM_STEPS,
        _adpcm_step,
        decode_wav_pcm,
        encode_wav_adpcm,
    )

    def simulate(chan_samples, spb):
        out, idx = [], 0
        for b0 in range(0, len(chan_samples), spb):
            blk = chan_samples[b0 : b0 + spb]
            pred = int(blk[0])
            out.append(pred)
            for v in blk[1:]:
                step = _ADPCM_STEPS[idx]
                delta, nib = int(v) - pred, 0
                if delta < 0:
                    nib, delta = 8, -delta
                if delta >= step:
                    nib, delta = nib | 4, delta - step
                if delta >= step >> 1:
                    nib, delta = nib | 2, delta - (step >> 1)
                if delta >= step >> 2:
                    nib |= 1
                pred, idx = _adpcm_step(pred, idx, nib)
                out.append(pred)
        return np.array(out, dtype=np.int16)

    rng = np.random.default_rng(41)
    spb = 505
    mono = rng.normal(0, 7000, spb * 3).astype(np.int16)
    ch, rate, got = decode_wav_pcm(encode_wav_adpcm(mono, 8000, 1, spb))
    assert (ch, rate) == (1, 8000)
    assert np.array_equal(got, simulate(mono, spb))

    stereo = rng.normal(0, 11000, 2 * spb * 2).astype(np.int16)
    ch, rate, got2 = decode_wav_pcm(encode_wav_adpcm(stereo, 16000, 2, spb))
    assert (ch, rate) == (2, 16000)
    frames = stereo.reshape(-1, 2)
    assert np.array_equal(got2[0::2], simulate(frames[:, 0], spb))
    assert np.array_equal(got2[1::2], simulate(frames[:, 1], spb))


def test_adpcm_clamps_and_known_vector():
    """Spec anchors: all-zero nibbles at index 0 hold the seed exactly
    (step 7 >> 3 == 0); at index 88 they ramp by the descending
    step >> 3 sequence, clamp the predictor at 32767, and floor the
    index at 0 — the closed forms the SQL oracle restates."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        _ADPCM_STEPS,
        decode_wav_pcm,
        wrap_wav_adpcm,
    )

    spb, ba = 161, 84  # mono: 4-byte header + 80 zero bytes
    flat = struct.pack("<hBB", -12345, 0, 0) + bytes(80)
    ch, rate, s = decode_wav_pcm(wrap_wav_adpcm(flat, 8000, 1, ba, spb))
    assert (ch, rate, len(s)) == (1, 8000, spb)
    assert (s == -12345).all()

    ramp = struct.pack("<hBB", 100, 88, 0) + bytes(80)
    _, _, r = decode_wav_pcm(wrap_wav_adpcm(ramp, 8000, 1, ba, spb))
    cum, exp = 0, [100]
    for j in range(spb - 1):
        cum += _ADPCM_STEPS[max(88 - j, 0)] >> 3
        exp.append(min(100 + cum, 32767))
    assert np.array_equal(r, np.array(exp, dtype=np.int16))
    assert r[-1] == 32767  # predictor clamp reached
    assert _ADPCM_STEPS[0] >> 3 == 0  # index floor: flatline after 88


def test_adpcm_out_of_profile_rejects():
    """Malformed ADPCM payloads return None, never crash: partial
    blocks, step index > 88, inconsistent wSamplesPerBlock, stereo body
    not filling 4-byte channel words."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_wav_pcm,
        encode_wav_adpcm,
        wrap_wav_adpcm,
    )

    good = encode_wav_adpcm(np.zeros(505, dtype=np.int16), 8000, 1, 505)
    assert decode_wav_pcm(good) is not None
    assert decode_wav_pcm(good[:-5]) is None  # truncated data chunk
    bad_idx = struct.pack("<hBB", 0, 89, 0) + bytes(80)
    assert decode_wav_pcm(wrap_wav_adpcm(bad_idx, 8000, 1, 84, 161)) is None
    ok = struct.pack("<hBB", 0, 0, 0) + bytes(80)
    assert decode_wav_pcm(wrap_wav_adpcm(ok, 8000, 1, 84, 160)) is None  # spb lies
    # stereo block whose body is not a multiple of 8 bytes
    st = struct.pack("<hBB", 0, 0, 0) * 2 + bytes(4)
    assert decode_wav_pcm(wrap_wav_adpcm(st, 8000, 2, 12, 5)) is None


def test_bmp_roundtrip_bitexact_matrix():
    """BMP BI_RGB is lossless: encode -> decode must reproduce the pixels
    exactly across 24-bit truecolor and 8-bit palettized, bottom-up and
    top-down storage, and widths whose row stride needs 0-3 pad bytes."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_bmp_rgb,
        encode_bmp_indexed,
        encode_bmp_rgb,
    )

    rng = np.random.default_rng(17)
    pal = [((3 * j + 5) % 256, (7 * j + 1) % 256, (11 * j + 4) % 256) for j in range(16)]
    for h, w in [(1, 1), (5, 7), (21, 29), (16, 32), (11, 30), (9, 31)]:
        for td in (False, True):
            img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            assert np.array_equal(decode_bmp_rgb(encode_bmp_rgb(img, td)), img)
            idx = rng.integers(0, 16, (h, w)).astype(np.uint8)
            exp = np.array(pal, dtype=np.uint8)[idx]
            got = decode_bmp_rgb(encode_bmp_indexed(idx, pal, td))
            assert np.array_equal(got, exp)


def test_bmp_out_of_profile_rejects():
    """Malformed/out-of-profile BMPs return None, never crash: truncated
    rows, truncated color table, palette index past the table, RLE
    compression, unsupported bit depths, absurd dimensions."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_bmp_rgb,
        encode_bmp_indexed,
        encode_bmp_rgb,
    )

    good = encode_bmp_rgb(np.zeros((5, 7, 3), dtype=np.uint8))
    assert decode_bmp_rgb(good) is not None
    assert decode_bmp_rgb(None) is None
    assert decode_bmp_rgb(good[:-4]) is None  # truncated pixel rows
    pal = [(i, i, i) for i in range(8)]
    assert (
        decode_bmp_rgb(encode_bmp_indexed(np.full((4, 4), 7, np.uint8), pal))
        is not None
    )
    assert (
        decode_bmp_rgb(encode_bmp_indexed(np.full((4, 4), 8 % 8 + 7, np.uint8), pal[:7]))
        is None
    )  # index past the color table
    rle = bytearray(good)
    struct.pack_into("<I", rle, 30, 1)  # biCompression = BI_RLE8
    assert decode_bmp_rgb(bytes(rle)) is None
    deep = bytearray(good)
    struct.pack_into("<H", deep, 28, 32)  # 32-bit: out of profile
    assert decode_bmp_rgb(bytes(deep)) is None
    bomb = bytearray(good)
    struct.pack_into("<ii", bomb, 18, 1 << 13, 1 << 13)  # 64M px > cap
    assert decode_bmp_rgb(bytes(bomb)) is None


def test_bmp_header_sniff():
    """parse_image_header recognizes BMP alongside PNG/GIF/JPEG and
    reports |height| for top-down (negative height) storage."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        encode_bmp_rgb,
        parse_image_header,
    )

    img = np.zeros((9, 13, 3), dtype=np.uint8)
    assert parse_image_header(encode_bmp_rgb(img)) == ("bmp", 13, 9)
    assert parse_image_header(encode_bmp_rgb(img, top_down=True)) == ("bmp", 13, 9)
    assert parse_image_header(b"BMxx") is None


def test_stats_preserve_int64_past_float53_next_to_undecodable(spark):
    """A batch mixing an undecodable payload with a decodable one whose
    stat exceeds 2^53 must keep the int64 exact: plain pandas inference
    would coerce the mixed int/None column through float64 and silently
    round (the bug the schema-derived dtypes of _map_payloads prevent).
    sum_sq here is 9e6 * 2^30 + 9, chosen so the float64 rounding WOULD
    be visible."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_wav_pcm,
        extract_audio_stats,
    )

    n = 9_000_000
    v = np.full(n, -32768, dtype=np.int16)
    v[0] = 3
    expected = (n - 1) * (1 << 30) + 9
    assert expected > 2**53 and float(expected) != expected
    payload = encode_wav_pcm(v, 16000, 1)
    rows = [
        (1, payload, "audio/wav", len(payload), None),
        (2, b"RIFFcorrupt", "audio/wav", 11, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(1)
    got = {r.media_id: r for r in extract_audio_stats(media).collect()}
    assert got[1].sum_sq == expected
    assert got[2].sum_sq is None


def test_dhash64_grid_and_band_composition():
    """dhash64 invariants: images under the 8x9 grid return None; the
    signed 64-bit hash equals the 4x16-bit band composition (int16 wrap
    on the top band); a +delta inside ONE pooled cell flips at most the
    two bits that compare that cell to its neighbors."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import dhash64

    assert dhash64(np.zeros((7, 20, 3), np.uint8)) is None
    assert dhash64(np.zeros((20, 8, 3), np.uint8)) is None

    x, y = np.meshgrid(np.arange(40), np.arange(32))
    g = ((3 * x + 5 * y) % 199).astype(np.uint8)
    img = np.repeat(g[:, :, None], 3, axis=2)
    dh, b0, b1, b2, b3 = dhash64(img)
    comp = b0 | (b1 << 16) | (b2 << 32) | (b3 << 48)
    if comp >= 1 << 63:
        comp -= 1 << 64
    assert dh == comp
    mask = ((x * 9) // 40 == 5) & ((y * 8) // 32 == 2)
    img2 = np.repeat((g + 25 * mask).astype(np.uint8)[:, :, None], 3, axis=2)
    dh2 = dhash64(img2)[0]
    assert bin((dh ^ dh2) & ((1 << 64) - 1)).count("1") <= 2


def test_dhash_neardup_pairs_lossless_and_bounded(spark):
    """The banded join is pigeonhole-lossless at hamming <= 3 (any such
    pair shares a band) and the verify drops pairs beyond the bound;
    max_hamming > 3 is rejected (the 4x16 bands no longer guarantee a
    collision)."""
    import pandas as pd
    import pytest as _pytest

    from sport_data_pipeline_spark.operators.multimodal import (
        dhash_neardup_pairs,
    )

    def row(mid, dh):
        u = dh & ((1 << 64) - 1)
        return {
            "media_id": mid,
            "width": 9,
            "height": 8,
            "dhash": dh if dh < 1 << 63 else dh - (1 << 64),
            "b0": u & 0xFFFF,
            "b1": (u >> 16) & 0xFFFF,
            "b2": (u >> 32) & 0xFFFF,
            "b3": (u >> 48) & 0xFFFF,
        }

    base = 0x0123456789ABCDEF
    fixtures = [
        row(1, base),
        row(2, base ^ 0b111),            # hamming 3, all in band 0 -> kept
        row(3, base ^ (1 | 1 << 20 | 1 << 40 | 1 << 60)),  # hamming 4 -> dropped
        row(4, base ^ ((1 << 16) | (1 << 33))),  # hamming 2 across bands -> kept
    ]
    hashes = spark.createDataFrame(pd.DataFrame(fixtures))
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_neardup_pairs(hashes, 3).collect()
    }
    assert got[(1, 2)] == 3 and got[(1, 4)] == 2
    assert (1, 3) not in got
    with _pytest.raises(ValueError):
        dhash_neardup_pairs(hashes, 4)


def test_audio_fingerprint64_window_and_composition():
    """audio_fingerprint64 invariants: streams under 65 samples return
    None; the signed key equals the band composition; perturbing ONE
    contour window flips at most its two adjacent comparisons; the
    contour is level-robust (scaling all samples 2x preserves it)."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        audio_fingerprint64,
    )

    assert audio_fingerprint64(np.zeros(64, np.int16)) is None
    rng = np.random.default_rng(23)
    x = rng.integers(-3000, 3000, 2000).astype(np.int16)
    fp, b0, b1, b2, b3 = audio_fingerprint64(x)
    comp = b0 | (b1 << 16) | (b2 << 32) | (b3 << 48)
    if comp >= 1 << 63:
        comp -= 1 << 64
    assert fp == comp
    wb = (np.arange(2000) * 65) // 2000
    y = x.astype(np.int64)
    y[wb == 30] = np.abs(y[wb == 30]) + 5000  # boost one window's energy
    fp2 = audio_fingerprint64(y)[0]
    assert bin((fp ^ fp2) & ((1 << 64) - 1)).count("1") <= 2
    assert audio_fingerprint64(x.astype(np.int64) * 2)[0] == fp  # level-robust


def test_scene_changes_cut_rule_and_voiding(spark):
    """Scene-change operator invariants: a static video has zero cuts
    and zero diffs; a level jump at a known frame is reported as
    first_cut with the exact |delta| * n_px diff; a video with one
    corrupt frame voids the WHOLE row (no partial answers); a single-
    frame video has no transitions (n_cuts 0, first_cut NULL)."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        build_mp4_mjpeg,
        encode_jpeg_gray,
        extract_video_scene_changes,
    )

    w, h = 24, 16
    flat = encode_jpeg_gray(np.full((h, w), 100, np.uint8))
    bright = encode_jpeg_gray(np.full((h, w), 140, np.uint8))
    rows = [
        (1, build_mp4_mjpeg([flat, flat, flat]), "video/mp4"),
        (2, build_mp4_mjpeg([flat, flat, bright, bright]), "video/mp4"),
        (3, build_mp4_mjpeg([flat, b"\xff\xd8junk", flat]), "video/mp4"),
        (4, build_mp4_mjpeg([bright]), "video/mp4"),
    ]
    rows = [(mid, p, m, len(p), None) for mid, p, m in rows]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(1)
    got = {r.media_id: r for r in extract_video_scene_changes(media).collect()}
    assert (got[1].n_cuts, got[1].first_cut, got[1].sum_diff) == (0, None, 0)
    assert (got[2].n_cuts, got[2].first_cut) == (1, 2)
    assert got[2].sum_diff == got[2].max_diff == 40 * w * h
    assert got[3].n_frames is None and got[3].n_cuts is None
    assert (got[4].n_frames, got[4].n_cuts, got[4].first_cut) == (1, 0, None)


def test_media_neardup_route_one_sided(spark):
    """media_neardup_route contract: batch items route to dup_near
    (smallest-id corpus match), kept, or undecodable; corpus-internal
    duplicates are NEVER reported (one-sided join); max_hamming > 3
    rejected."""
    import pandas as pd
    import pytest as _pytest

    from sport_data_pipeline_spark.operators.multimodal import (
        media_neardup_route,
    )

    def row(mid, dh):
        u = dh & ((1 << 64) - 1) if dh is not None else None
        return {
            "media_id": mid,
            "width": 9,
            "height": 8,
            "dhash": dh,
            "b0": u & 0xFFFF if dh is not None else None,
            "b1": (u >> 16) & 0xFFFF if dh is not None else None,
            "b2": (u >> 32) & 0xFFFF if dh is not None else None,
            "b3": (u >> 48) & 0xFFFF if dh is not None else None,
        }

    base = 0x00112233445566
    # corpus contains an internal exact pair (10, 11) — must not appear
    corpus = spark.createDataFrame(
        pd.DataFrame([row(10, base), row(11, base), row(12, base ^ 0xFF00000)]).astype(
            {"dhash": "Int64", "b0": "Int32", "b1": "Int32", "b2": "Int32", "b3": "Int32"}
        )
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            [row(20, base ^ 0b11), row(21, 0x7F00AA0000BB00), row(22, None)]
        ).astype(
            {"dhash": "Int64", "b0": "Int32", "b1": "Int32", "b2": "Int32", "b3": "Int32"}
        )
    )
    got = {r.media_id: r for r in media_neardup_route(batch, corpus).collect()}
    assert len(got) == 3  # batch rows only — never corpus-internal pairs
    assert (got[20].status, got[20].match_id, got[20].hamming) == ("dup_near", 10, 2)
    assert (got[21].status, got[21].match_id) == ("kept", None)
    assert (got[22].status, got[22].match_id) == ("undecodable", None)
    with _pytest.raises(ValueError):
        media_neardup_route(batch, corpus, max_hamming=5)


def test_tiff_roundtrip_bitexact_matrix():
    """Baseline TIFF is lossless: encode -> decode reproduces pixels
    exactly across byte orders (II/MM), grayscale and RGB, single- and
    multi-strip layouts (including a ragged final strip), and 1x1."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_tiff_rgb,
        encode_tiff,
    )

    rng = np.random.default_rng(31)
    for order in ("II", "MM"):
        for rps in (None, 1, 4, 7):
            for h, w in [(1, 1), (9, 13), (21, 29)]:
                img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
                got = decode_tiff_rgb(encode_tiff(img, order, rps))
                assert np.array_equal(got, img), (order, rps, h, w)
                g = rng.integers(0, 256, (h, w)).astype(np.uint8)
                got_g = decode_tiff_rgb(encode_tiff(g, order, rps))
                assert np.array_equal(got_g, np.repeat(g[:, :, None], 3, axis=2))


def test_tiff_out_of_profile_rejects():
    """Out-of-profile TIFFs return None, never crash: truncation, LZW
    compression, planar config, 16-bit samples, strip-count mismatch,
    decode bombs."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_tiff_rgb,
        encode_tiff,
    )

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    good = encode_tiff(img, "II", 4)
    assert decode_tiff_rgb(good) is not None
    assert decode_tiff_rgb(None) is None
    assert decode_tiff_rgb(good[:-6]) is None  # truncated last strip/IFD

    def tag_edit(payload, tag, new_vals):
        import struct as _s

        b = bytearray(payload)
        (ifd_off,) = _s.unpack_from("<I", b, 4)
        (n,) = _s.unpack_from("<H", b, ifd_off)
        for k in range(n):
            at = ifd_off + 2 + 12 * k
            t, typ, cnt = _s.unpack_from("<HHI", b, at)
            if t == tag:
                fmt = {3: "H", 4: "I"}[typ]
                for j, v in enumerate(new_vals):
                    _s.pack_into("<" + fmt, b, at + 8 + _s.calcsize(fmt) * j, v)
        return bytes(b)

    assert decode_tiff_rgb(tag_edit(good, 259, [5])) is None  # LZW
    assert decode_tiff_rgb(tag_edit(good, 258, [16, 16, 16])) is None  # 16-bit
    assert decode_tiff_rgb(tag_edit(good, 262, [3])) is None  # palette photometric
    assert decode_tiff_rgb(tag_edit(good, 278, [8])) is None  # strip-count mismatch
    assert decode_tiff_rgb(tag_edit(good, 256, [1 << 13]) ) is None  # byte counts now lie
    bomb = tag_edit(tag_edit(good, 256, [1 << 13]), 257, [1 << 13])
    assert decode_tiff_rgb(bomb) is None  # 64M px > cap (checked pre-strips)


def test_tiff_header_sniff():
    """parse_image_header recognizes TIFF in both byte orders via the
    IFD dimension tags, alongside PNG/GIF/JPEG/BMP."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        encode_tiff,
        parse_image_header,
    )

    img = np.zeros((9, 13, 3), dtype=np.uint8)
    assert parse_image_header(encode_tiff(img, "II")) == ("tiff", 13, 9)
    assert parse_image_header(encode_tiff(img, "MM")) == ("tiff", 13, 9)
    assert parse_image_header(b"II\x2a\x00") is None  # no IFD reachable
    assert parse_image_header(b"MM\x00\x13rest") is None  # wrong magic


def test_keyframe_extraction_matches_cut_structure(spark):
    """Keyframe operator invariants: a static video keeps only frame 0;
    a cut adds the first frame of the new scene; stats cover keyframe
    pixels only; corrupt frames void the row."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        build_mp4_mjpeg,
        encode_jpeg_gray,
        extract_keyframe_stats,
    )

    w, h = 24, 16
    a = encode_jpeg_gray(np.full((h, w), 100, np.uint8))
    b = encode_jpeg_gray(np.full((h, w), 140, np.uint8))
    rows = [
        (1, build_mp4_mjpeg([a, a, a, a]), "video/mp4"),
        (2, build_mp4_mjpeg([a, a, b, b, a]), "video/mp4"),
        (3, build_mp4_mjpeg([a, b"\xff\xd8junk"]), "video/mp4"),
    ]
    rows = [(mid, p, m, len(p), None) for mid, p, m in rows]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(1)
    got = {r.media_id: r for r in extract_keyframe_stats(media).collect()}
    assert (got[1].n_keyframes, list(got[1].keyframe_idx)) == (1, [0])
    assert got[1].kf_sum_v == 100 * w * h
    assert (got[2].n_keyframes, list(got[2].keyframe_idx)) == (3, [0, 2, 4])
    assert got[2].kf_sum_v == (100 + 140 + 100) * w * h
    assert (got[2].kf_min_v, got[2].kf_max_v) == (100, 140)
    assert got[3].n_keyframes is None


def test_tiff_compressed_roundtrip_and_rejects():
    """LZW (early-change) and PackBits TIFF round-trip bit-exactly across
    byte orders, strip heights, and content classes (random bytes force
    LZW width growth; long runs exercise PackBits repeats); corrupt
    streams and wrong-length strips return None."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        _packbits_decode,
        _packbits_encode,
        _tiff_lzw_decode,
        _tiff_lzw_encode,
        decode_tiff_rgb,
        encode_tiff,
    )

    rng = np.random.default_rng(43)
    for comp in (5, 32773):
        for order in ("II", "MM"):
            img = rng.integers(0, 256, (23, 31, 3)).astype(np.uint8)
            assert np.array_equal(
                decode_tiff_rgb(encode_tiff(img, order, 4, comp)), img
            )
            runs = np.repeat(rng.integers(0, 5, (9, 7)), 5, axis=1).astype(np.uint8)
            exp = np.repeat(runs[:, :, None], 3, axis=2)
            assert np.array_equal(
                decode_tiff_rgb(encode_tiff(runs, order, None, comp)), exp
            )
    # codec-layer: a 70k small-alphabet stream forces LZW to 12-bit codes
    # and through at least one Clear reset
    seq = bytes(rng.integers(0, 4, 70000).astype(np.uint8))
    enc = _tiff_lzw_encode(seq)
    assert _tiff_lzw_decode(enc, len(seq)) == seq
    assert _tiff_lzw_decode(enc, len(seq) - 1) is None  # overshoot guard
    assert _tiff_lzw_decode(enc[:-3], len(seq)) is None  # truncation
    pb = _packbits_encode(seq[:1000])
    assert _packbits_decode(pb, 1000) == seq[:1000]
    assert _packbits_decode(pb[:-2], 1000) is None
    # wrong-length strip payload rejects at the container layer
    good = encode_tiff(np.zeros((8, 8, 3), np.uint8), "II", 4, 32773)
    assert decode_tiff_rgb(good[:-1]) is None


def test_bmp_rle8_escapes_and_rejects():
    """BI_RLE8 decode handles all four escape forms — hand-crafted
    streams exercise absolute mode (with its word-alignment pad) and
    delta skips (skipped pixels render 0) — and bounds-checks every
    packet: runs past the row edge, indices past the color table, and
    missing end-of-bitmap all return None."""
    import struct as _s

    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_bmp_rgb,
        encode_bmp_rle8,
    )

    pal = [(j, 2 * j, 3 * j) for j in range(8)]

    def wrap(data, w, h, n_colors=8):
        table = b"".join(bytes((b_, g, r, 0)) for r, g, b_ in pal[:n_colors])
        off = 14 + 40 + len(table)
        info = _s.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(data), 2835, 2835, n_colors, 0
        )
        return _s.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off) + info + table + data

    # 4x3, bottom-up: row y=2 (bottom) run of 4 zeros; row y=1 absolute
    # [1,2,3] + run 1 of 4; row y=0 (top) delta skip (2,0) then run 2 of 5
    stream = (
        b"\x04\x00" + b"\x00\x00"                      # bottom row + EOL
        + b"\x00\x03" + bytes([1, 2, 3]) + b"\x00"     # absolute 3 + pad
        + b"\x01\x04" + b"\x00\x00"                    # run 1 of idx 4 + EOL
        + b"\x00\x02" + bytes([2, 0]) + b"\x02\x05"    # delta (2,0), run 2 of 5
        + b"\x00\x01"                                  # end of bitmap
    )
    got = decode_bmp_rgb(wrap(stream, 4, 3))
    exp_idx = np.array(
        [[0, 0, 5, 5],   # top row: delta left pixels 0, then run of 5
         [1, 2, 3, 4],   # middle: absolute + run
         [0, 0, 0, 0]],  # bottom
        dtype=np.uint8,
    )
    assert np.array_equal(got, np.array(pal, np.uint8)[exp_idx])

    # encoder round-trip at an awkward width
    rng = np.random.default_rng(3)
    idx = rng.integers(0, 8, (6, 31)).astype(np.uint8)
    assert np.array_equal(
        decode_bmp_rgb(encode_bmp_rle8(idx, pal)), np.array(pal, np.uint8)[idx]
    )
    # a 300-pixel constant row crosses the encoder's 255-run packet cap
    wide = np.full((2, 300), 6, dtype=np.uint8)
    assert np.array_equal(
        decode_bmp_rgb(encode_bmp_rle8(wide, pal)), np.array(pal, np.uint8)[wide]
    )
    # run past the row edge
    assert decode_bmp_rgb(wrap(b"\x05\x01" + b"\x00\x01", 4, 1)) is None
    # index past the color table (run of idx 7 with a 7-color table)
    assert decode_bmp_rgb(wrap(b"\x01\x07" + b"\x00\x01", 1, 1, n_colors=7)) is None
    # missing end-of-bitmap
    assert decode_bmp_rgb(wrap(b"\x04\x00" + b"\x00\x00", 4, 1)) is None


def test_wav_float32_decodes_with_scale_and_clip():
    """WAV format 3 (IEEE float, 32-bit): samples scale by 32768 with
    round-half-up and clip to int16 (the f32 -> s16 convention);
    exactly-representable fixtures (k * 2^-15) make the conversion
    integer-exact. NaN/Inf payloads and partial frames reject."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_wav_pcm,
        encode_wav_float32,
    )

    k = np.array([0, 1, -1, 16384, 32767, -32768, 40000, -40000], dtype=np.int64)
    f = (k.astype(np.float64) * 2.0**-15).astype(np.float32)
    ch, rate, s = decode_wav_pcm(encode_wav_float32(f, 22050, 2))
    assert (ch, rate) == (2, 22050)
    assert np.array_equal(s, np.clip(k, -32768, 32767).astype(np.int16))
    assert (
        decode_wav_pcm(encode_wav_float32(np.array([0.1, np.inf], np.float32), 8000, 1))
        is None
    )
    payload = encode_wav_float32(f, 8000, 2)
    assert decode_wav_pcm(payload[:-2]) is None  # truncated data chunk


def test_gif_animation_compositing_semantics():
    """decode_gif_animation: placement, transparency holes, disposal 1/2/3
    against a hand-composited reference; GCE scope ends with its image."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_gif_animation,
        encode_gif_animation,
    )

    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    w, h = 10, 8
    patch = np.full((3, 4), 2, np.uint8)
    patch[1, 1] = 3  # transparent hole
    b = encode_gif_animation(
        (w, h),
        pal,
        [
            {"indices": np.full((h, w), 1, np.uint8)},
            {"indices": patch, "left": 3, "top": 2, "disposal": 3, "transparent": 3},
            {"indices": np.full((2, 2), 3, np.uint8), "left": 0, "top": 0, "disposal": 2},
            # transparent-only frame: canvas shows frame 2's region restored to bg
            {"indices": np.full((1, 1), 0, np.uint8), "left": 9, "top": 7, "transparent": 0},
        ],
        bg_index=0,
    )
    frames = decode_gif_animation(b)
    assert frames is not None and len(frames) == 4
    f0 = np.zeros((h, w, 3), np.uint8)
    f0[:, :] = (255, 0, 0)
    f1 = f0.copy()
    for y in range(3):
        for x in range(4):
            if patch[y, x] != 3:
                f1[2 + y, 3 + x] = (0, 255, 0)
    f2 = f0.copy()  # disposal 3 restored the patch region
    f2[0:2, 0:2] = (0, 0, 255)
    f3 = f0.copy()  # disposal 2 restored frame 2's region to background
    f3[0:2, 0:2] = (0, 0, 0)
    for got, want in zip(frames, (f0, f1, f2, f3)):
        assert (got == want).all()


def test_gif_animation_interlaced_partial_frame_and_bounds():
    """Interlaced PARTIAL frames de-weave the transparency mask together
    with the indices; frames overrunning the canvas reject; a GIF without
    a global color table has no background to composite over."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_gif_animation,
        encode_gif_animation,
    )

    pal = [(9, 9, 9), (200, 10, 30), (10, 200, 30), (30, 10, 200)]
    w, h = 12, 11
    rng = np.random.default_rng(5)
    patch = rng.integers(1, 4, (9, 7)).astype(np.uint8)
    patch[patch == 3] = 0  # index 0 acts transparent in this frame
    b = encode_gif_animation(
        (w, h),
        pal,
        [
            {"indices": np.full((h, w), 1, np.uint8)},
            {"indices": patch, "left": 2, "top": 1, "transparent": 0},
        ],
        bg_index=0,
    )
    # interlace the partial frame by hand: set the descriptor flag and
    # reorder rows — easier to re-encode with encode_gif_rgb's pass order
    frames = decode_gif_animation(b)
    assert frames is not None
    want = frames[1].copy()
    # rebuild with the interlaced row order and the interlace flag set
    from sport_data_pipeline_spark.operators.multimodal import (
        _GIF_INTERLACE_PASSES,
        _gif_lzw_encode,
    )
    import struct as _s

    order = [y for start, step in _GIF_INTERLACE_PASSES for y in range(start, 9, step)]
    woven = patch[order]
    head = b[: b.index(b"\x2c", b.index(b"\x2c") + 1)]  # up to 2nd descriptor
    out = bytearray(head)
    out += b"\x2c" + _s.pack("<HHHH", 2, 1, 7, 9) + bytes((0x40, 2))
    lzw = _gif_lzw_encode(woven.reshape(-1), 2)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    got = decode_gif_animation(bytes(out))
    assert got is not None and (got[1] == want).all()
    # out-of-bounds placement rejects
    oob = encode_gif_animation(
        (w, h), pal, [{"indices": np.full((3, 3), 1, np.uint8), "left": 10, "top": 9}]
    )
    assert decode_gif_animation(oob) is None
    # no global color table: no defined background
    nogct = bytearray(b)
    nogct[10] &= 0x7F
    assert decode_gif_animation(bytes(nogct)) is None


def test_gif_animation_survives_corruption():
    """Same fuzz discipline as the other decoders: byte flips, truncations
    and insertions yield None or well-shaped frames, never an exception."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_gif_animation,
        encode_gif_animation,
    )

    rng = np.random.default_rng(23)
    pal = [((5 * j + 3) % 256, (9 * j + 2) % 256, (13 * j + 7) % 256) for j in range(8)]
    patch = np.where((np.add.outer(np.arange(5), np.arange(6))) % 2 == 1, 4, 7).astype(
        np.uint8
    )
    good = encode_gif_animation(
        (14, 10),
        pal,
        [
            {"indices": np.full((10, 14), 1, np.uint8)},
            {"indices": patch, "left": 3, "top": 2, "transparent": 7, "disposal": 3},
            {"indices": np.full((4, 5), 6, np.uint8), "left": 5, "top": 3, "disposal": 2},
        ],
    )
    assert decode_gif_animation(good) is not None
    for _ in range(150):
        buf = bytearray(good)
        mode = rng.integers(0, 3)
        if mode == 0:
            for _ in range(int(rng.integers(1, 5))):
                buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
        elif mode == 1:
            buf = buf[: int(rng.integers(1, len(buf)))]
        else:
            at = int(rng.integers(0, len(buf)))
            buf = buf[:at] + bytes(rng.integers(0, 256, 3, dtype=np.uint8)) + buf[at:]
        got = decode_gif_animation(bytes(buf))
        if got is not None:
            for fr in got:
                assert fr.ndim == 3 and fr.shape[2] == 3


def test_tiff_predictor2():
    """Predictor-2 (horizontal differencing) round-trips across every
    supported compression and byte order, re-accumulates mod 256 through
    wrapping deltas, and unsupported predictor values reject."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_tiff_rgb,
        encode_tiff,
    )

    rng = np.random.default_rng(7)
    for order in ("II", "MM"):
        for comp in (1, 5, 32773):
            for shape in ((13, 17), (11, 9, 3)):
                a = rng.integers(0, 256, shape).astype(np.uint8)
                b = encode_tiff(
                    a, order=order, rows_per_strip=4, compression=comp, predictor=2
                )
                got = decode_tiff_rgb(b)
                want = a if a.ndim == 3 else np.repeat(a[:, :, None], 3, axis=2)
                assert got is not None and (got == want).all(), (order, comp, shape)
    # wrap case: deltas overflow uint8 inside a row
    a = (np.arange(16 * 16, dtype=np.int64).reshape(16, 16) * 37 % 256).astype(np.uint8)
    b = encode_tiff(a, compression=5, predictor=2)
    assert (decode_tiff_rgb(b)[:, :, 0] == a).all()
    # predictor 3 (floating point) is out of profile
    bad = bytearray(encode_tiff(a, compression=5, predictor=2))
    at = bad.find((317).to_bytes(2, "little"))
    bad[at + 8] = 3
    assert decode_tiff_rgb(bytes(bad)) is None


def test_audio_channel_stats_downmix(spark):
    """extract_audio_channel_stats: de-interleave, floor downmix on
    negative odd sums, mono pass-through, >2-channel voiding."""
    from sport_data_pipeline_spark.operators.multimodal import (
        encode_wav_pcm,
        extract_audio_channel_stats,
    )

    left = np.array([100, -101, 32767, -32768, 5], dtype=np.int64)
    right = np.array([-201, 100, 32767, -32768, -6], dtype=np.int64)
    inter = np.empty(10, dtype=np.int16)
    inter[0::2], inter[1::2] = left, right
    mono = np.array([-7, 8, -32768], dtype=np.int16)
    rows = [
        (1, encode_wav_pcm(inter, 8000, 2), "audio/wav", 0, None),
        (2, encode_wav_pcm(mono, 16000, 1), "audio/wav", 0, None),
        (3, encode_wav_pcm(np.zeros(9, np.int16), 8000, 3), "audio/wav", 0, None),
        (4, b"junk", None, 0, None),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary, mime_type string, n_bytes long, meta_json string"
    )
    got = {r["media_id"]: r for r in extract_audio_channel_stats(df).collect()}
    mix = (left + right) // 2  # floor: (100-201)//2 = -51, not -50
    assert got[1]["sum_l"] == int(left.sum()) and got[1]["sum_r"] == int(right.sum())
    # peak over the MIX: both rails mix to -32768, whose abs is 32768
    assert got[1]["sum_mix"] == int(mix.sum()) and got[1]["peak_mix"] == 32768
    assert mix[0] == -51  # the floor-vs-truncate witness
    assert got[2]["sum_r"] is None and got[2]["sum_mix"] == int(mono.astype(np.int64).sum())
    assert got[3]["sum_mix"] is None  # 3-channel: outside the 1-2ch profile
    assert got[4]["channels"] is None


def test_audio_channel_stats_odd_sample_count_voids(spark):
    """A decoder= seam returning a stereo buffer whose total sample count
    is odd (impossible via decode_wav_pcm, which enforces block
    alignment) must yield the documented NULL row, not a numpy broadcast
    crash during de-interleave."""
    from sport_data_pipeline_spark.operators.multimodal import (
        extract_audio_channel_stats,
    )

    def ragged_decoder(payload):
        if payload is None:
            return None
        return (2, 8000, np.array([1, 2, 3], dtype=np.int16))  # 3 % 2 != 0

    df = spark.createDataFrame(
        [(1, b"x", "audio/wav", 1, None), (2, None, None, 0, None)],
        "media_id long, payload binary, mime_type string, n_bytes long, meta_json string",
    )
    got = {
        r["media_id"]: r
        for r in extract_audio_channel_stats(df, decoder=ragged_decoder).collect()
    }
    assert got[1]["channels"] is None and got[1]["sum_mix"] is None
    assert got[2]["channels"] is None


def test_png_adam7_roundtrip_matrix():
    """Adam7 interlace round-trips across color types and edge sizes —
    including sizes where several passes are EMPTY (1x1 has only pass 1;
    4x3 has no pass-2 columns) and ragged pass widths everywhere."""
    from sport_data_pipeline_spark.operators.multimodal import (
        decode_png_rgb,
        encode_png_gray,
        encode_png_indexed,
        encode_png_rgb,
    )

    rng = np.random.default_rng(9)
    pal = [(j, (5 * j) % 256, (9 * j) % 256) for j in range(16)]
    for (w, h) in [(1, 1), (2, 2), (3, 7), (8, 8), (13, 11), (31, 17), (4, 3)]:
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        got = decode_png_rgb(encode_png_rgb(rgb, interlace=True))
        assert got is not None and (got == rgb).all(), (w, h, "rgb")
        g = rng.integers(0, 256, (h, w)).astype(np.uint8)
        assert (decode_png_rgb(encode_png_gray(g, interlace=True))[:, :, 0] == g).all()
        idx = rng.integers(0, 16, (h, w)).astype(np.uint8)
        got = decode_png_rgb(encode_png_indexed(idx, pal, interlace=True))
        assert (got == np.array(pal, np.uint8)[idx]).all(), (w, h, "indexed")
    # interlace byte outside {0,1} stays out of profile
    b = bytearray(encode_png_rgb(rng.integers(0, 256, (8, 8, 3)).astype(np.uint8)))
    b[28] = 2  # IHDR interlace field (sig 8 + len 4 + type 4 + 12 data bytes)
    import struct as _s, zlib as _z
    crc = _z.crc32(bytes(b[12:29])) & 0xFFFFFFFF
    b[29:33] = _s.pack(">I", crc)
    assert decode_png_rgb(bytes(b)) is None


def test_tiff_deflate():
    """Deflate (compression 8) round-trips across byte orders, strip
    heights and predictors; truncated/over-long/trailing-garbage strips
    reject via the bounded inflate."""
    import zlib as _z

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_tiff_rgb,
        encode_tiff,
    )

    rng = np.random.default_rng(11)
    for order in ("II", "MM"):
        for pred in (1, 2):
            for shape in ((13, 17), (9, 8, 3)):
                a = rng.integers(0, 256, shape).astype(np.uint8)
                b = encode_tiff(
                    a, order=order, rows_per_strip=4, compression=8, predictor=pred
                )
                got = decode_tiff_rgb(b)
                want = a if a.ndim == 3 else np.repeat(a[:, :, None], 3, axis=2)
                assert got is not None and (got == want).all(), (order, pred, shape)
    g = rng.integers(0, 256, (16, 16)).astype(np.uint8)
    b = encode_tiff(g, compression=8)
    assert decode_tiff_rgb(b[:-8]) is None  # truncated strip
    # a strip inflating LONGER than the expected bytes must reject: build
    # a single-strip file whose strip decodes to expect+pad bytes
    too_long = encode_tiff(g, compression=8)
    strip_ok = _z.compress(g.tobytes(), 6)
    strip_bad = _z.compress(g.tobytes() + b"XX", 6)
    # strip is written at offset 8, length recorded in tag 279; patching
    # in a longer stream keeps the container valid but the inflate must
    # overrun its bound and reject
    assert too_long[8 : 8 + len(strip_ok)] == strip_ok
    patched = bytearray(too_long)
    if len(strip_bad) <= len(strip_ok):  # need in-place fit; else skip
        patched[8 : 8 + len(strip_bad)] = strip_bad
        assert decode_tiff_rgb(bytes(patched)) is None


def test_mp3_frame_walk():
    """MP3 frame walk: table-correct lengths across versions, ID3 skip,
    profile honesty (mixed version/rate, bad indexes, truncation, byte
    gaps all reject), and fuzz."""
    from sport_data_pipeline_spark.operators.multimodal import (
        encode_mp3_stream,
        mp3_frame_length,
        parse_mp3_frames,
    )

    for ver, sr_idx, sr, spf in (("1", 0, 44100, 1152), ("2", 1, 24000, 576), ("2.5", 2, 8000, 576)):
        frames = [(ver, 1 + (k % 14), sr_idx, k % 2) for k in range(9)]
        b = encode_mp3_stream(frames, id3v2=b"\x01" * 23, id3v1=True)
        got = parse_mp3_frames(b)
        assert got is not None
        v, got_sr, nf, samples, abytes, kbps_sum = got
        assert (v, got_sr, nf, samples) == (ver, sr, 9, 9 * spf)
    # mixed version / samplerate chains reject (profile honesty)
    assert parse_mp3_frames(encode_mp3_stream([("1", 5, 0, 0), ("2", 5, 0, 0)])) is None
    assert parse_mp3_frames(encode_mp3_stream([("1", 5, 0, 0), ("1", 5, 1, 0)])) is None
    # free (0) and bad (15) bitrate indexes reject
    good = bytearray(encode_mp3_stream([("1", 5, 0, 0)]))
    for bad_idx in (0, 15):
        buf = bytearray(good)
        buf[2] = (bad_idx << 4) | (buf[2] & 0x0F)
        assert parse_mp3_frames(bytes(buf)) is None
    # truncated final frame and inter-frame garbage reject
    assert parse_mp3_frames(bytes(good[:-10])) is None
    assert parse_mp3_frames(bytes(good) + b"junk") is None
    # fuzz: flips/truncations never crash
    rng = np.random.default_rng(41)
    base = encode_mp3_stream([("1", 1 + (k % 14), 1, 0) for k in range(6)], id3v2=b"\x00" * 16)
    for _ in range(120):
        buf = bytearray(base)
        if rng.integers(0, 2):
            buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
        else:
            buf = buf[: int(rng.integers(1, len(buf)))]
        parse_mp3_frames(bytes(buf))  # must not raise


def test_flac_streaminfo():
    """FLAC header parse: packed-field round-trip, spec rules (STREAMINFO
    first at 34 bytes, last-flag chain), rejects, fuzz."""
    import hashlib

    from sport_data_pipeline_spark.operators.multimodal import (
        encode_flac_header,
        parse_flac_streaminfo,
    )

    md5 = hashlib.md5(b"x").digest()
    for rate, ch, bits, samples, extra in (
        (44100, 2, 16, 1, 0),
        (8000, 1, 24, (1 << 36) - 1, 2),  # 36-bit sample-count ceiling
        (96000, 2, 32, 123456789, 1),
    ):
        b = encode_flac_header(rate, ch, bits, samples, md5, extra)
        got = parse_flac_streaminfo(b)
        assert got == (rate, ch, bits, samples, md5.hex(), 1 + extra)
    good = bytearray(encode_flac_header(44100, 2, 16, 1000, md5, 1))
    assert parse_flac_streaminfo(bytes(good[:-3])) is None  # short padding
    assert parse_flac_streaminfo(b"OggS" + bytes(good[4:])) is None
    # STREAMINFO-not-first: flip the first block's type to PADDING
    notfirst = bytearray(good)
    notfirst[4] = (notfirst[4] & 0x80) | 1
    assert parse_flac_streaminfo(bytes(notfirst)) is None
    # chain that never sets the last flag runs off the buffer -> None
    nolast = bytearray(good)
    nolast[4] &= 0x7F
    nolast[4 + 4 + 34] &= 0x7F
    assert parse_flac_streaminfo(bytes(nolast)) is None
    rng = np.random.default_rng(43)
    for _ in range(100):
        buf = bytearray(good)
        if rng.integers(0, 2):
            buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
        else:
            buf = buf[: int(rng.integers(1, len(buf)))]
        parse_flac_streaminfo(bytes(buf))  # never raises


def _contract_fixture(kind: str) -> bytes:
    """One decodable payload per extractor for the operator-shape test:
    every stat of its row is non-null (stereo audio, a video with a cut)."""
    import hashlib

    from sport_data_pipeline_spark.operators import multimodal as M

    x, y = np.meshgrid(np.arange(24), np.arange(16))
    rgb = np.stack([(3 * x + y) % 256, (5 * y) % 256, (x * y) % 256], -1).astype(np.uint8)
    gray = lambda v: np.full((16, 24), v, np.uint8)  # noqa: E731
    mjpeg = M.build_mp4_mjpeg([M.encode_jpeg_gray(gray(v)) for v in (40, 40, 200)])
    stereo = M.encode_wav_pcm(np.arange(-200, 200, dtype=np.int16), 8000, 2)
    return {
        "png": M.encode_png_rgb(rgb),
        "jpeg_rgb": M.encode_jpeg_ycbcr(gray(120), gray(128 + 17), gray(128 - 34)),
        "jpeg_gray": M.encode_jpeg_gray(gray(96)),
        "wav": stereo,
        "mjpeg": mjpeg,
        "gif_anim": M.encode_gif_animation(
            (6, 4), [(0, 0, 0), (255, 0, 0)],
            [{"indices": np.eye(4, 6, dtype=np.uint8)}, {"indices": np.ones((4, 6), np.uint8)}],
        ),
        "mp3": M.encode_mp3_stream([("1", 9, 0, 0), ("1", 9, 0, 1)]),
        "flac": M.encode_flac_header(44100, 2, 16, 4410, hashlib.md5(b"x").digest()),
    }[kind]


_EXTRACTOR_CONTRACT = [
    # (operator, its declared schema, decoder= or None, fixture kind)
    ("extract_pixel_stats", "PIXEL_STATS_SCHEMA", None, "png"),
    ("extract_pixel_stats", "PIXEL_STATS_SCHEMA", "decode_jpeg_rgb", "jpeg_rgb"),
    ("extract_jpeg_stats", "JPEG_STATS_SCHEMA", None, "jpeg_gray"),
    ("extract_audio_stats", "AUDIO_STATS_SCHEMA", None, "wav"),
    ("extract_audio_channel_stats", "AUDIO_CHANNEL_STATS_SCHEMA", None, "wav"),
    ("extract_audio_fingerprint", "AUDIO_FP_SCHEMA", None, "wav"),
    ("extract_image_dhash", "DHASH_SCHEMA", None, "png"),
    ("extract_video_frame_stats", "VIDEO_STATS_SCHEMA", None, "mjpeg"),
    ("extract_video_scene_changes", "SCENE_SCHEMA", None, "mjpeg"),
    ("extract_keyframe_stats", "KEYFRAME_SCHEMA", None, "mjpeg"),
    ("extract_gif_animation_stats", "ANIMATION_STATS_SCHEMA", None, "gif_anim"),
    ("extract_mp3_meta", "MP3_META_SCHEMA", None, "mp3"),
    ("extract_flac_meta", "FLAC_META_SCHEMA", None, "flac"),
]


@pytest.mark.parametrize(
    "op,schema,decoder,kind",
    _EXTRACTOR_CONTRACT,
    ids=[f"{op}-{decoder or 'default'}" for op, _, decoder, _ in _EXTRACTOR_CONTRACT],
)
def test_stats_extractor_operator_contract(spark, op, schema, decoder, kind):
    """Every stats extractor has the same operator shape: one Arrow batch
    holding a decodable payload, a NULL payload and garbage bytes yields
    exactly the declared schema; the NULL and garbage items each give one
    row of their media_id with every stat NULL, and the decodable item's
    rows carry no NULL."""
    from sport_data_pipeline_spark.operators import multimodal as M

    rows = [
        (1, _contract_fixture(kind), "x", 0, None),
        (2, None, "x", 0, None),
        (3, b"\x00garbage\xff" * 4, "x", 0, None),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA).repartition(1)
    fn = getattr(M, op)
    out = fn(media) if decoder is None else fn(media, decoder=getattr(M, decoder))
    assert out.schema == getattr(M, schema)
    got = out.collect()
    for mid in (2, 3):
        (void,) = [r for r in got if r["media_id"] == mid]
        assert all(v is None for v in list(void)[1:]), void
    good = [r for r in got if r["media_id"] == 1]
    assert good and all(v is not None for r in good for v in r), good
