"""Property-based tests (hypothesis) for the pure-Python seams: container
header codecs round-trip arbitrary valid parameters, and resize geometry
keeps its invariants on any input. These run driver-side (no Spark), so
hypothesis can afford hundreds of examples. The file-level upsert
(``merge_into_parquet``) and MinHash near-dup properties at the end run
on Spark and keep their example counts small."""

from __future__ import annotations

import io
import struct
import wave

from hypothesis import HealthCheck, given, settings, strategies as st

from sport_data_pipeline_spark.operators.multimodal import (
    fit_within,
    parse_image_header,
    parse_mp4_header,
    parse_wav_header,
)

dims = st.integers(min_value=1, max_value=65535)


@given(w=dims, h=dims)
def test_png_header_roundtrip(w, h):
    b = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", w, h)
        + b"\x08\x06\x00\x00\x00"
    )
    assert parse_image_header(b) == ("png", w, h)


@given(w=dims, h=dims)
def test_gif_header_roundtrip(w, h):
    b = b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 4
    assert parse_image_header(b) == ("gif", w, h)


@given(w=dims, h=dims, n_skip=st.integers(min_value=0, max_value=4))
def test_jpeg_header_roundtrip_with_leading_segments(w, h, n_skip):
    # SOI, then n_skip APPn segments before the SOF0 — the parser must walk
    # the marker chain, not assume a fixed offset.
    b = b"\xff\xd8"
    for i in range(n_skip):
        payload = b"x" * (i + 1)
        b += b"\xff\xe0" + struct.pack(">H", 2 + len(payload)) + payload
    b += b"\xff\xc0" + struct.pack(">H", 8) + b"\x08" + struct.pack(">HH", h, w) + b"\x01"
    assert parse_image_header(b) == ("jpeg", w, h)


@given(
    channels=st.integers(min_value=1, max_value=8),
    rate=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
    n_frames=st.integers(min_value=1, max_value=100_000),
    bits=st.sampled_from([8, 16, 32]),
)
@settings(max_examples=60)
def test_wav_header_roundtrip(channels, rate, n_frames, bits):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wr:
        wr.setnchannels(channels)
        wr.setsampwidth(bits // 8)
        wr.setframerate(rate)
        wr.writeframes(b"\x00" * (n_frames * channels * (bits // 8)))
    got = parse_wav_header(buf.getvalue())
    assert got is not None
    c, r, bps, dur = got
    assert (c, r, bps) == (channels, rate, bits)
    assert abs(dur - n_frames / rate) < 1e-5


@given(
    timescale=st.integers(min_value=1, max_value=1_000_000),
    ticks=st.integers(min_value=0, max_value=10_000_000),
    version=st.sampled_from([0, 1]),
)
@settings(max_examples=60)
def test_mp4_header_roundtrip(timescale, ticks, version):
    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    if version == 0:
        if ticks >= 2**32 or timescale >= 2**32:
            return
        mvhd = bytes([0, 0, 0, 0]) + struct.pack(">III", 0, 0, timescale)
        mvhd += struct.pack(">I", ticks) + b"\x00" * 80
    else:
        mvhd = bytes([1, 0, 0, 0]) + struct.pack(">QQI", 0, 0, timescale)
        mvhd += struct.pack(">Q", ticks) + b"\x00" * 80
    b = box(b"ftyp", b"mp42\x00\x00\x00\x00") + box(b"moov", box(b"mvhd", mvhd))
    got = parse_mp4_header(b)
    assert got is not None
    brand, dur = got
    assert brand == "mp42"
    assert abs(dur - round(ticks / timescale, 6)) < 1e-9


@given(w=dims, h=dims, mw=dims, mh=dims)
def test_fit_within_invariants(w, h, mw, mh):
    fw, fh = fit_within(w, h, mw, mh)
    assert 1 <= fw and 1 <= fh
    assert fw <= max(mw, 1) and fh <= max(mh, 1)
    assert fw <= w and fh <= h  # never upscale
    if fw > 1 and fh > 1:
        # aspect preserved within integer-floor rounding
        assert abs(fw / fh - w / h) <= max(w / h, 1.0) * (1 / fw + 1 / fh)


@given(junk=st.binary(max_size=64))
@settings(max_examples=200)
def test_parsers_never_crash_on_junk(junk):
    # arbitrary bytes must yield None or a tuple — never an exception.
    for parser in (parse_image_header, parse_wav_header, parse_mp4_header):
        out = parser(junk)
        assert out is None or isinstance(out, tuple)


@given(n_tok=st.integers(min_value=1, max_value=10_000))
def test_chunk_count_formula_covers_all_tokens(n_tok):
    # The closed-form 64/48 chunk count used by doc_chunks /
    # corpus_train_shards (and restated in their SQL oracles) must tile the
    # token range: chunks cover every token, the last chunk is non-empty,
    # and one fewer chunk would leave tokens uncovered.
    CHUNK, STRIDE = 64, 48
    import math

    nc = 1 + math.ceil(max(n_tok - CHUNK, 0) / STRIDE)
    last_start = (nc - 1) * STRIDE  # 0-based
    assert last_start < n_tok  # last chunk non-empty
    assert last_start + CHUNK >= n_tok  # full coverage
    if nc > 1:  # minimality: nc-1 chunks would stop short
        assert (nc - 2) * STRIDE + CHUNK < n_tok


img_dims = st.integers(min_value=1, max_value=40)


@given(
    w=img_dims,
    h=img_dims,
    td=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_property(w, h, td, seed):
    """BMP BI_RGB encode -> decode is the identity for ANY uint8 RGB
    array, any dimensions, either scan direction."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_bmp_rgb,
        encode_bmp_rgb,
    )

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3)).astype(np.uint8)
    assert np.array_equal(decode_bmp_rgb(encode_bmp_rgb(img, td)), img)


@given(
    w=img_dims,
    h=img_dims,
    order=st.sampled_from(["II", "MM"]),
    rps=st.integers(min_value=1, max_value=45),
    gray=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_tiff_roundtrip_property(w, h, order, rps, gray, seed):
    """Baseline TIFF encode -> decode is the identity for ANY uint8
    gray/RGB array, either byte order, any strip height."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_tiff_rgb,
        encode_tiff,
    )

    rng = np.random.default_rng(seed)
    if gray:
        g = rng.integers(0, 256, (h, w)).astype(np.uint8)
        exp = np.repeat(g[:, :, None], 3, axis=2)
        assert np.array_equal(decode_tiff_rgb(encode_tiff(g, order, rps)), exp)
    else:
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        assert np.array_equal(decode_tiff_rgb(encode_tiff(img, order, rps)), img)


@given(
    channels=st.sampled_from([1, 2]),
    n_blocks=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_adpcm_reconstruction_property(channels, n_blocks, seed):
    """IMA ADPCM decode(encode(x)) equals an independent per-sample
    simulation of the shared step arithmetic for ANY int16 input."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        _ADPCM_STEPS,
        _adpcm_step,
        decode_wav_pcm,
        encode_wav_adpcm,
    )

    spb = 505
    rng = np.random.default_rng(seed)
    x = rng.integers(-32768, 32768, channels * spb * n_blocks).astype(np.int16)
    ch, rate, got = decode_wav_pcm(encode_wav_adpcm(x, 8000, channels, spb))
    assert (ch, rate) == (channels, 8000)

    def sim(cs):
        out, idx = [], 0
        for b0 in range(0, len(cs), spb):
            blk = cs[b0 : b0 + spb]
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

    frames = x.reshape(-1, channels)
    for c in range(channels):
        assert np.array_equal(got[c::channels], sim(frames[:, c]))


@given(
    w=st.integers(min_value=9, max_value=50),
    h=st.integers(min_value=8, max_value=50),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_dhash_band_composition_property(w, h, seed):
    """dhash64's signed 64-bit key always equals its 4x16-bit band
    composition (int16 wrap on the top band), for ANY image."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import dhash64

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3)).astype(np.uint8)
    dh, b0, b1, b2, b3 = dhash64(img)
    comp = b0 | (b1 << 16) | (b2 << 32) | (b3 << 48)
    if comp >= 1 << 63:
        comp -= 1 << 64
    assert dh == comp
    assert all(0 <= c <= 0xFFFF for c in (b0, b1, b2, b3))


@given(
    n=st.integers(min_value=65, max_value=3000),
    scale=st.integers(min_value=1, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_audio_fingerprint_level_robust_property(n, scale, seed):
    """The energy-contour fingerprint is invariant under positive level
    scaling (the contour, not absolute energy, is the signal) and its
    key always equals the band composition."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        audio_fingerprint64,
    )

    x = np.random.default_rng(seed).integers(-8000, 8000, n).astype(np.int64)
    fp, b0, b1, b2, b3 = audio_fingerprint64(x)
    comp = b0 | (b1 << 16) | (b2 << 32) | (b3 << 48)
    if comp >= 1 << 63:
        comp -= 1 << 64
    assert fp == comp
    assert audio_fingerprint64(x * scale)[0] == fp


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    kind=st.sampled_from(["rgb", "gray", "indexed"]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_png_adam7_roundtrip_property(w, h, kind, seed):
    """Adam7 encode -> decode is the identity for ANY size and color
    type — including sizes where most passes are empty."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_png_rgb,
        encode_png_gray,
        encode_png_indexed,
        encode_png_rgb,
    )

    rng = np.random.default_rng(seed)
    if kind == "rgb":
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        assert np.array_equal(decode_png_rgb(encode_png_rgb(img, interlace=True)), img)
    elif kind == "gray":
        g = rng.integers(0, 256, (h, w)).astype(np.uint8)
        exp = np.repeat(g[:, :, None], 3, axis=2)
        assert np.array_equal(decode_png_rgb(encode_png_gray(g, interlace=True)), exp)
    else:
        pal = [(j, (5 * j) % 256, (9 * j) % 256) for j in range(16)]
        idx = rng.integers(0, 16, (h, w)).astype(np.uint8)
        exp = np.array(pal, np.uint8)[idx]
        assert np.array_equal(
            decode_png_rgb(encode_png_indexed(idx, pal, interlace=True)), exp
        )


@given(
    w=st.integers(min_value=1, max_value=32),
    h=st.integers(min_value=1, max_value=32),
    order=st.sampled_from(["II", "MM"]),
    comp=st.sampled_from([1, 5, 32773]),
    rps=st.integers(min_value=1, max_value=33),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_tiff_predictor2_roundtrip_property(w, h, order, comp, rps, seed):
    """Predictor-2 encode -> decode is the identity for ANY array, byte
    order, compression, and strip height (the per-row delta chain resets
    per row, so strip boundaries must be irrelevant)."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_tiff_rgb,
        encode_tiff,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    got = decode_tiff_rgb(encode_tiff(img, order, rps, comp, predictor=2))
    assert np.array_equal(got, img)


@given(
    w=st.integers(min_value=2, max_value=24),
    h=st.integers(min_value=2, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_gif_animation_composites_like_reference_property(w, h, seed):
    """Random patch animations composite identically to a pure-Python
    per-pixel reference (placement + transparency + disposal 0/2/3)."""
    import numpy as np

    from sport_data_pipeline_spark.operators.multimodal import (
        decode_gif_animation,
        encode_gif_animation,
    )

    rng = np.random.default_rng(seed)
    pal = [((5 * j + 3) % 256, (9 * j + 2) % 256, (13 * j + 7) % 256) for j in range(8)]
    frames = [{"indices": rng.integers(0, 7, (h, w)).astype(np.uint8)}]
    for _ in range(3):
        fw = int(rng.integers(1, w + 1))
        fh = int(rng.integers(1, h + 1))
        left = int(rng.integers(0, w - fw + 1))
        top = int(rng.integers(0, h - fh + 1))
        frames.append(
            {
                "indices": rng.integers(0, 8, (fh, fw)).astype(np.uint8),
                "left": left,
                "top": top,
                "transparent": 7,
                "disposal": int(rng.integers(0, 4)),
            }
        )
    b = encode_gif_animation((w, h), pal, frames, bg_index=0)
    got = decode_gif_animation(b)
    assert got is not None and len(got) == len(frames)
    # pure-python reference composite
    palarr = np.array(pal, np.uint8)
    canvas = np.empty((h, w, 3), np.uint8)
    canvas[:, :] = palarr[0]
    for k, fr in enumerate(frames):
        idx = fr["indices"]
        fh, fw = idx.shape
        left, top = fr.get("left", 0), fr.get("top", 0)
        trans = fr.get("transparent")
        disp = fr.get("disposal", 0)
        region = canvas[top : top + fh, left : left + fw]
        saved = region.copy()
        for y in range(fh):
            for x in range(fw):
                if trans is None or idx[y, x] != trans:
                    region[y, x] = palarr[idx[y, x]]
        assert np.array_equal(got[k], canvas), k
        if disp == 2:
            region[:, :] = palarr[0]
        elif disp == 3:
            region[:, :] = saved


# ---------------------------------------------------------------------------
# merge_into_parquet: random upsert batch sequences against merge_latest.

UPSERT_DDL = "k long, v long, scraped_at long"


@st.composite
def upsert_batches(draw):
    """2-6 batches of (key, scraped_at) ticks: keys repeat across batches
    (new and existing keys), scraped_at arrives out of order, and no
    (key, scraped_at) pair repeats, so latest-wins has no ties. Also
    returns the index of the batch that carries an extra column."""
    ticks = draw(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 10_000)),
                          min_size=1, max_size=80, unique=True))
    n = draw(st.integers(2, 6))
    owner = draw(st.lists(st.integers(0, n - 1), min_size=len(ticks), max_size=len(ticks)))
    batches = [b for b in ([t for t, o in zip(ticks, owner) if o == i] for i in range(n)) if b]
    return batches, draw(st.integers(0, len(batches) - 1))


@given(case=upsert_batches())
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_into_parquet_equals_merge_latest_property(spark, case):
    import functools
    import tempfile
    from unittest import mock

    from pyspark.sql import functions as F

    from sport_data_pipeline_spark.operators import merge

    batches, extra = case
    frames = []
    with tempfile.TemporaryDirectory() as d, mock.patch.object(merge, "ROWS_PER_FILE", 4):
        target = f"{d}/t"
        for i, rows in enumerate(batches):
            df = spark.createDataFrame([(k, k * 100_000 + ts, ts) for k, ts in rows], UPSERT_DDL)
            if i == extra:
                df = df.withColumn("note", F.concat(F.lit("b"), F.col("v").cast("string")))
            merge.merge_into_parquet(df, target, ["k"], ["scraped_at"])
            frames.append(df)
        union = functools.reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
        want = merge.merge_latest(union, ["k"], ["scraped_at"])
        got = spark.read.parquet(target)
        cols = sorted(want.columns)
        assert sorted(got.columns) == cols
        assert sorted(got.select(cols).collect()) == sorted(want.select(cols).collect())


def test_single_key_updates_rewrite_one_file_and_do_not_fragment(spark, tmp_path, monkeypatch):
    """50 batches, each updating one uniformly random existing key: every
    batch replaces exactly the one file holding its key, every other file
    keeps its name, and the file count stays within a fixed bound."""
    import os

    import numpy as np

    from sport_data_pipeline_spark.operators import merge

    monkeypatch.setattr(merge, "ROWS_PER_FILE", 16)
    target, n = str(tmp_path / "t"), 120
    bound = 2 * -(-n // 8)  # twice the files of a fresh write at 8 rows a file

    def files():
        return {f for f in os.listdir(target) if f.endswith(".parquet")}

    merge.merge_into_parquet(
        spark.createDataFrame([(k, 0, 0) for k in range(n)], UPSERT_DDL),
        target, ["k"], ["scraped_at"])
    rng = np.random.default_rng(20)
    for i in range(1, 51):
        before = files()
        key = int(rng.integers(0, n))
        replaced = merge.merge_into_parquet(
            spark.createDataFrame([(key, i, i)], UPSERT_DDL), target, ["k"], ["scraped_at"])
        after = files()
        assert replaced == 1 and len(before - after) == 1, (i, key)
        assert len(after) <= bound
    got = spark.read.parquet(target)
    assert got.count() == n and got.select("k").distinct().count() == n


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup: random small corpora against the exact verifiers.

DOC_DDL = "doc_id long, blk string, text string"


@st.composite
def near_dup_corpora(draw):
    """Base docs over a small vocabulary, planted copies with 0-2 edits
    (a word replaced or appended; 0 = an identical text), docs shorter
    than the 3-token shingle, and one or two block values."""
    word = st.integers(0, 24).map(lambda i: f"w{i}")
    blocks = draw(st.sampled_from([["x"], ["x", "y"]]))
    docs = []
    for base in draw(st.lists(st.lists(word, min_size=3, max_size=16), min_size=1, max_size=6)):
        docs.append((draw(st.sampled_from(blocks)), base))
        for _ in range(draw(st.integers(0, 4))):
            copy = list(base)
            for _ in range(draw(st.integers(0, 2))):
                if draw(st.booleans()):
                    copy.append(draw(word))
                else:
                    copy[draw(st.integers(0, len(copy) - 1))] = draw(word)
            docs.append((draw(st.sampled_from(blocks)), copy))
    for short in draw(st.lists(st.lists(word, max_size=2), max_size=3)):
        docs.append((draw(st.sampled_from(blocks)), short))
    order = draw(st.permutations(range(len(docs))))
    return [(i, docs[j][0], " ".join(docs[j][1])) for i, j in enumerate(order)]


@given(rows=near_dup_corpora(), threshold=st.sampled_from([0.3, 0.5, 0.8]))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_minhash_jaccard_pairs_subset_of_exact_property(spark, rows, threshold):
    from sport_data_pipeline_spark.operators.dedup import jaccard_pairs, minhash_jaccard_pairs

    df = spark.createDataFrame(rows, DOC_DDL)
    blk = {i: b for i, b, _ in rows}
    text = {i: t for i, _, t in rows}
    try:
        for block_cols in ([], ["blk"]):
            exact = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(
                df, "doc_id", "text", block_cols, threshold, shingle_n=3).collect()}
            lsh = {(r.id_a, r.id_b): r.jaccard for r in minhash_jaccard_pairs(
                df, "doc_id", "text", block_cols, threshold, shingle_n=3).collect()}
            assert all(exact.get(p) == j for p, j in lsh.items()), (block_cols, lsh, exact)
            if block_cols:
                assert all(blk[a] == blk[b] for a, b in lsh)
            twins = {
                (a, b) for a in text for b in text
                if a < b and text[a] == text[b] and len(text[a].split()) >= 3
                and (not block_cols or blk[a] == blk[b])
            }
            assert twins <= set(lsh), (block_cols, twins - set(lsh))
    finally:
        spark.catalog.clearCache()


@given(rows=near_dup_corpora(), threshold=st.sampled_from([0.3, 0.5, 0.8]))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_dedup_minhash_routes_within_blocked_property(spark, rows, threshold):
    from sport_data_pipeline_spark.operators.dedup import incremental_dedup

    df = spark.createDataFrame(rows, DOC_DDL)
    batch, corpus = df.filter("doc_id % 3 = 0"), df.filter("doc_id % 3 <> 0")

    def routes(**kw):
        return {r.doc_id: (r.status, r.match_id) for r in incremental_dedup(
            batch, corpus, "doc_id", "text", ["blk"], threshold=threshold, shingle_n=3,
            **kw).collect()}

    try:
        blocked, lsh = routes(), routes(minhash_candidates=(32, 16))
    finally:
        spark.catalog.clearCache()
    assert blocked.keys() == lsh.keys()
    exact = {i: m for i, (s, m) in blocked.items() if s == "dup_exact"}
    assert exact == {i: m for i, (s, m) in lsh.items() if s == "dup_exact"}
    for i, (status, match) in lsh.items():
        if status == "near_dup":
            assert blocked[i][0] == "near_dup" and blocked[i][1] <= match, (i, blocked[i], match)
