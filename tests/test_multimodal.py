from __future__ import annotations

import pytest

from etl_cli_spark.operators.multimodal import (
    decode_images,
    extract_features,
    make_fake_media,
    resize_images,
    sample_frames,
)
from etl_cli_spark.operators.similarity import cosine_topk


@pytest.fixture(scope="module")
def media(spark):
    return make_fake_media(spark, n=12)


def test_decode_real_ppm_and_bmp(media):
    """The PPM/BMP decoders must recover the exact dims and pixel bytes
    that went in (every third row is BMP, including padded-stride widths)."""
    import hashlib

    from etl_cli_spark.operators.multimodal import media_dims, media_pixels

    out = decode_images(media)
    rows = out.collect()
    assert len(rows) == 12
    for r in rows:
        w, h = media_dims(r.media_id)
        assert (r.dec_width, r.dec_height) == (w, h)
        expected = hashlib.sha256(media_pixels(r.media_id, w, h).tobytes()).digest()[:16]
        assert bytes(r.dec_digest) == expected


def test_decode_bmp_padded_stride():
    """w=9 -> 27-byte rows padded to 28: the decoder must strip padding,
    flip bottom-up rows, and swap BGR back to RGB."""
    from etl_cli_spark.operators.multimodal import (
        _decode_bmp,
        encode_bmp,
        media_pixels,
    )

    px = media_pixels(11, 9, 7)
    w, h, dec = _decode_bmp(encode_bmp(px))
    assert (w, h) == (9, 7)
    assert (dec == px).all()


def test_decode_unknown_format_uses_stub(media, spark):
    import hashlib

    from etl_cli_spark.operators.multimodal import MEDIA_SCHEMA

    payload = b"\x89PNG fake bytes"
    df = spark.createDataFrame(
        [(0, "image", bytearray(payload), (1, 1, 0, 0, "png"))], MEDIA_SCHEMA
    )
    r = decode_images(df).first()
    hh = hashlib.sha256(payload).digest()
    assert (r.dec_width, r.dec_height) == (64 + hh[0] % 64, 64 + hh[1] % 64)


def test_resize_schema(media):
    out = resize_images(media, 224, 224)
    r = out.first()
    assert (r.resized_width, r.resized_height) == (224, 224)
    assert len(bytes(r.resized_digest)) == 16


def test_frame_sampling_explodes_rows(media):
    frames = sample_frames(media, every_ms=1000)
    n = frames.count()
    # durations are 5000/6000/7000ms -> 5..7 frames per video
    assert n == sum(5000 + 1000 * (i % 3) for i in range(12)) // 1000
    assert frames.filter("frame_idx = 0").count() == 12


def test_features_compose_with_similarity(media, spark):
    feats = extract_features(media, dim=16).withColumnRenamed("media_id", "vec_id").withColumnRenamed(
        "feature", "embedding"
    )
    q = feats.filter("vec_id = 0").collect()[0].embedding
    top = cosine_topk(feats, [float(x) for x in q], k=3)
    assert top.collect()[0].vec_id == 0  # self is most similar


def test_wav_decode_real(spark):
    """REAL RIFF/PCM16 decode: header fields and the PCM digest come from
    parsing the bytes, verified against the independent sample pattern."""
    import hashlib as _hl

    from etl_cli_spark.operators.multimodal import decode_audio, make_fake_audio, media_samples

    audio = make_fake_audio(spark, n=9)
    rows = {r.media_id: r for r in decode_audio(audio).collect()}
    assert len(rows) == 9
    for i in range(9):
        r = rows[i]
        sr, n_samp = 8000 + 4000 * (i % 3), 400 + 30 * i
        assert (r.dec_sample_rate, r.dec_channels, r.dec_n_samples) == (sr, 1, n_samp)
        assert r.dec_duration_ms == n_samp * 1000 // sr
        expect = _hl.sha256(media_samples(i, n_samp).tobytes()).digest()[:16]
        assert bytes(r.dec_digest) == expect


def test_wav_decode_rejects_non_pcm(spark):
    import pytest as _pt

    from etl_cli_spark.operators.multimodal import _decode_wav, encode_wav, media_samples

    with _pt.raises(ValueError, match="RIFF"):
        _decode_wav(b"not a wav at all")
    # flip the format tag to non-PCM: native decode must refuse, not garble
    wav = bytearray(encode_wav(media_samples(1, 100)))
    wav[20] = 3  # fmt chunk audio_format field
    with _pt.raises(NotImplementedError, match="PCM16"):
        _decode_wav(bytes(wav))


def test_wav_odd_chunk_alignment():
    """RIFF chunks are word-aligned; an odd-sized extra chunk before data
    must not derail the walk."""
    import struct

    from etl_cli_spark.operators.multimodal import _decode_wav, encode_wav, media_samples

    wav = encode_wav(media_samples(2, 50), sample_rate=8000)
    # splice an odd-length LIST chunk between fmt and data
    head, rest = wav[:36], wav[36:]
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # 3 bytes + pad
    spliced = head + odd + rest
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    sr, ch, n, pcm = _decode_wav(spliced)
    assert (sr, ch, n) == (8000, 1, 50)


def test_resize_real_nearest_neighbor(spark):
    """Resized digest must equal sha256 of the independently-resampled
    pattern (exact integer index map y*h//H), not a payload-hash stub."""
    import hashlib as _hl

    import numpy as np

    from etl_cli_spark.operators.multimodal import (
        make_fake_media,
        media_dims,
        media_pixels,
        resize_images,
    )

    media = make_fake_media(spark, n=6)
    rows = {r.media_id: r for r in resize_images(media, 4, 3).collect()}
    for i in range(6):
        w, h = media_dims(i)
        px = media_pixels(i, w, h)
        ys = (np.arange(3) * h) // 3
        xs = (np.arange(4) * w) // 4
        want = _hl.sha256(px[ys][:, xs].tobytes()).digest()[:16]
        assert bytes(rows[i].resized_digest) == want


def test_features_real_grid_pool(spark):
    """Feature vector must equal the hand-computed per-cell mean
    luminance of the REAL decoded pixels."""
    import pytest as _pt

    from etl_cli_spark.operators.multimodal import (
        extract_features,
        make_fake_media,
        media_dims,
        media_pixels,
    )

    media = make_fake_media(spark, n=4)
    rows = {r.media_id: list(r.feature) for r in extract_features(media, dim=4).collect()}
    for i in range(4):
        w, h = media_dims(i)
        gray = media_pixels(i, w, h).astype("int64").sum(axis=2)
        want = []
        for a in range(2):
            for b in range(2):
                cell = gray[a * h // 2 : (a + 1) * h // 2, b * w // 2 : (b + 1) * w // 2]
                want.append(float(cell.sum()) / (cell.size * 765.0) - 0.5)
        assert rows[i] == _pt.approx(want, abs=1e-6)


def test_features_reject_non_square_dim(spark):
    import pytest as _pt

    from etl_cli_spark.operators.multimodal import extract_features, make_fake_media

    with _pt.raises(ValueError, match="perfect square"):
        extract_features(make_fake_media(spark, n=1), dim=15)


def test_video_frame_sampling_real_decode(spark):
    """BMP-reel frame sampling must DECODE the sampled frame: digests
    equal sha256 of the independently-recomputed pattern pixels."""
    import hashlib as _hl

    from etl_cli_spark.operators.multimodal import (
        make_fake_video,
        media_dims,
        media_pixels,
        sample_frames,
    )

    video = make_fake_video(spark, n=6, fps=4)  # 250 ms per frame
    out = sample_frames(video, every_ms=1000)
    rows = {(r.media_id, r.frame_idx): r for r in out.collect()}
    for i in range(6):
        w, h = media_dims(i)
        dur = 2000 + 500 * (i % 3)
        n_samples = len(range(0, dur, 1000))
        for s in range(n_samples):
            ts = s * 1000
            fi = min(int(ts / 250), dur * 4 // 1000 - 1)
            want = _hl.sha256(media_pixels(i * 1000 + fi, w, h).tobytes()).digest()[:16]
            assert bytes(rows[(i, s)].frame_digest) == want


def test_bmp_reel_rejects_corrupt(spark):
    import pytest as _pt

    from etl_cli_spark.operators.multimodal import _split_bmp_reel, encode_bmp, media_pixels

    good = encode_bmp(media_pixels(0, 8, 6))
    assert len(_split_bmp_reel(good * 3)) == 3
    with _pt.raises(ValueError, match="trailing"):
        _split_bmp_reel(good + b"junk")


# -- PNG (round-4: real stdlib-zlib decode, all five filters) ----------------


def test_decode_png_roundtrip_all_filters():
    """encode_png cycles filters 0-4 across rows; the decoder must
    reverse every one of them back to the exact source pixels."""
    from etl_cli_spark.operators.multimodal import _decode_png, encode_png, media_pixels

    px = media_pixels(7, 9, 11)  # >= 5 rows -> every filter type present
    w, h, dec = _decode_png(encode_png(px))
    assert (w, h) == (9, 11)
    assert (dec == px).all()


def test_decode_png_in_media_pipeline(spark):
    """make_fake_media cycles ppm/png/bmp/gif; every row must decode to
    the pattern digest regardless of format."""
    import hashlib

    from etl_cli_spark.operators.multimodal import (
        make_fake_media,
        media_dims,
        media_pixels,
    )

    media = make_fake_media(spark, n=12)
    fmts = {r.media_id: r.meta.format for r in media.collect()}
    assert sorted(set(fmts.values())) == ["bmp", "gif", "png", "ppm"]
    for r in decode_images(media).collect():
        w, h = media_dims(r.media_id)
        assert (r.dec_width, r.dec_height) == (w, h)
        exp = hashlib.sha256(media_pixels(r.media_id, w, h).tobytes()).digest()[:16]
        assert bytes(r.dec_digest) == exp


def test_decode_png_rejects_unsupported_variants():
    """Palette/16-bit/interlaced PNGs raise a clear error instead of
    decoding garbage."""
    import struct
    import zlib

    import pytest as _pytest

    from etl_cli_spark.operators.multimodal import _PNG_SIG, _decode_png

    def mk(depth, color, interlace):
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace)
        chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        chunk += struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        end = struct.pack(">I", 0) + b"IEND" + struct.pack(">I", zlib.crc32(b"IEND") & 0xFFFFFFFF)
        return _PNG_SIG + chunk + end

    for depth, color, inter in [(16, 2, 0), (8, 3, 0), (8, 2, 1)]:
        with _pytest.raises(ValueError, match="only 8-bit truecolor"):
            _decode_png(mk(depth, color, inter))


# -- JPEG (round-4: real baseline T.81 decode, pure numpy/stdlib) ------------


def test_jpeg_exact_roundtrip_uniform_blocks():
    """Uniform even-valued blocks under a flat-16 quant table are
    DC-only and round-trip EXACTLY (16 | 8*(v-128) for even v) —
    grayscale, 4:4:4, and 4:2:0, including non-multiple-of-8 dims."""
    import numpy as np

    from etl_cli_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    # grayscale with edge-block crop
    for w, h in [(16, 8), (20, 12), (28, 20)]:
        bv = (rng.integers(0, 128, ((h + 7) // 8, (w + 7) // 8)) * 2).astype(np.uint8)
        px = np.repeat(np.repeat(bv, 8, 0), 8, 1)[:h, :w]
        w2, h2, out = decode_jpeg(encode_jpeg(px, quant=16, grayscale=True))
        assert (w2, h2) == (w, h)
        assert (out[:, :, 0] == px).all() and (out[:, :, 0] == out[:, :, 2]).all()
    # color 4:2:0: chroma uniform per MCU
    w, h = 32, 16
    mk = lambda s, g: np.repeat(
        np.repeat((np.random.default_rng(s).integers(0, 128, (h // g, w // g)) * 2), g, 0),
        g, 1,
    ).astype(np.float64)
    Y, Cb, Cr = mk(1, 8), mk(2, 16), mk(3, 16)
    data = encode_jpeg(
        None, quant=16, subsample=True,
        # chroma at half resolution: 2x2 decimation (uniform cells, exact)
        ycbcr_planes=(Y, Cb[::2, ::2], Cr[::2, ::2]),
    )
    _, _, out = decode_jpeg(data)
    r = np.rint(Y + 1.402 * (Cr - 128.0)).clip(0, 255)
    g = np.rint(Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0)).clip(0, 255)
    b = np.rint(Y + 1.772 * (Cb - 128.0)).clip(0, 255)
    assert (out == np.stack([r, g, b], -1).astype(np.uint8)).all()


def test_jpeg_general_content_within_quant_error():
    """Arbitrary pixel content (full AC coefficients, ZRL runs) decodes
    within quantization error; restart markers don't change pixels."""
    import numpy as np

    from etl_cli_spark.operators.jpeg import decode_jpeg, encode_jpeg

    base = ((np.arange(24)[:, None] * 7 + np.arange(40)[None, :] * 3) % 256).astype(np.uint8)
    px = np.stack([base, (base * 2) % 256, (base * 3) % 256], -1)
    _, _, out = decode_jpeg(encode_jpeg(px, quant=4))
    err = np.abs(out.astype(int) - px.astype(int))
    assert err.mean() < 5 and err.max() <= 40
    _, _, out_rst = decode_jpeg(encode_jpeg(px, quant=4, restart_interval=2))
    assert (out_rst == out).all()


def test_jpeg_progressive_roundtrip_matches_baseline():
    """Progressive packaging carries the same quantized coefficients as
    baseline, so decode(encode_progressive(px)) must equal
    decode(encode(px)) bit-for-bit — this exercises every scan type
    (DC first/refine, AC first/refine, EOB runs, ZRL) on dense random
    coefficients, plus restart intervals."""
    import numpy as np

    from etl_cli_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_progressive_jpeg,
    )

    rng = np.random.RandomState(7)
    for kw, shape in [
        (dict(grayscale=True), (13, 17)),
        (dict(), (16, 24, 3)),
        (dict(subsample=True), (19, 21, 3)),
    ]:
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        bw_, bh_, base = decode_jpeg(encode_jpeg(px, quant=4, **kw))
        for ri in (0, 3):
            pw, ph, prog = decode_jpeg(
                decode_input := encode_progressive_jpeg(
                    px, quant=4, restart_interval=ri, **kw
                )
            )
            assert decode_input[:4] != b"\xFF\xD8\xFF\xC0"  # really SOF2-path
            assert (pw, ph) == (bw_, bh_)
            assert (prog == base).all()


def test_jpeg_rejects_malformed():
    """A baseline stream relabeled SOF2 is non-conforming (its SOS says
    Ss=0, Se=63 — a progressive DC scan must have Se=0) and must raise;
    so must a non-JPEG payload."""
    import numpy as np
    import pytest as _pytest

    from etl_cli_spark.operators.jpeg import decode_jpeg, encode_jpeg

    px = np.zeros((8, 8), dtype=np.uint8)
    data = bytearray(encode_jpeg(px, grayscale=True))
    i = bytes(data).find(b"\xFF\xC0")
    data[i + 1] = 0xC2  # rewrite SOF0 -> SOF2
    with _pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(bytes(data))
    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")


def test_jpeg_in_media_pipeline(spark):
    """make_fake_jpeg payloads decode through the standard
    decode_images dispatch (magic-byte routing), widths/heights from
    the jpeg_spec contract."""
    from etl_cli_spark.operators.multimodal import jpeg_spec, make_fake_jpeg

    media = make_fake_jpeg(spark, n=6)
    rows = {r.media_id: r for r in decode_images(media).collect()}
    assert len(rows) == 6
    for i in range(6):
        sp = jpeg_spec(i)
        assert (rows[i].dec_width, rows[i].dec_height) == (sp["w"], sp["h"])
        assert rows[i].dec_digest is not None


def test_unsupported_variants_degrade_to_stub_in_batch(spark):
    """One RGBA/palette PNG or progressive JPEG payload must not kill
    the whole decode job: the kernel degrades that row to the stub
    digest (the module's batch-robustness contract); direct decoder
    calls still raise."""
    import struct
    import zlib

    import numpy as np

    from etl_cli_spark.operators.jpeg import encode_jpeg
    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _PNG_SIG,
        _decode_pixels,
        encode_ppm,
        media_pixels,
    )

    def chunk(ctype, payload):
        return (struct.pack(">I", len(payload)) + ctype + payload
                + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF))

    palette_png = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"IEND", b"")
    )
    prog = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.uint8), grayscale=True))
    i = bytes(prog).find(b"\xFF\xC0")
    prog[i + 1] = 0xC2  # progressive SOF2
    assert _decode_pixels(palette_png) is None
    assert _decode_pixels(bytes(prog)) is None

    good = encode_ppm(media_pixels(0, 8, 6))
    rows = [
        (0, "image", bytearray(good), (8, 6, None, None, "ppm")),
        (1, "image", bytearray(palette_png), (2, 2, None, None, "png")),
        (2, "image", bytearray(bytes(prog)), (8, 8, None, None, "jpeg")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_images(media).collect()}
    assert len(got) == 3  # nothing raised
    assert (got[0].dec_width, got[0].dec_height) == (8, 6)  # real decode
    assert got[1].dec_digest is not None and got[2].dec_digest is not None  # stubs


def test_progressive_restart_counter_resets_per_scan():
    """T.81 E.1.4: the modulo-8 restart counter restarts at RST0 in
    every scan's entropy data. Strict external decoders resync on the
    expected index, so the FIRST restart marker after each SOS must be
    0xFFD0 — and the round-trip must still match the baseline decode."""
    import numpy as np

    from etl_cli_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_progressive_jpeg,
    )

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(32, 48), dtype=np.uint8)
    data = bytes(encode_progressive_jpeg(px, grayscale=True, restart_interval=2))

    firsts, pos, n_scans_with_rst = [], 0, 0
    while True:
        sos = data.find(b"\xFF\xDA", pos)
        if sos < 0:
            break
        seg_len = int.from_bytes(data[sos + 2 : sos + 4], "big")
        start = sos + 2 + seg_len
        end = data.find(b"\xFF\xDA", start)
        body = data[start : end if end > 0 else len(data)]
        i = 0
        while i < len(body) - 1:  # first unstuffed marker in this scan
            if body[i] == 0xFF and 0xD0 <= body[i + 1] <= 0xD7:
                firsts.append(body[i + 1] - 0xD0)
                n_scans_with_rst += 1
                break
            i += 1
        pos = sos + 2
    assert n_scans_with_rst >= 2  # multi-scan script actually emits RSTs
    assert all(f == 0 for f in firsts)  # every scan restarts at RST0
    assert np.array_equal(
        decode_jpeg(data)[2],
        decode_jpeg(bytes(encode_jpeg(px, grayscale=True)))[2],
    )


def test_malformed_jpeg_streams_degrade_not_crash(spark):
    """Structurally-broken JPEG payloads (the kind a crawl actually
    yields) must degrade to the stub kernel, not kill the Spark task:
    a truncated progressive stream (IndexError inside the bit-walk), a
    DHT that defines the wrong table id (KeyError at SOS), and an SOS
    appearing before any SOF (TypeError on the missing frame) are all
    caught by _decode_pixels' structural-surprise net."""
    import numpy as np

    from etl_cli_spark.operators.jpeg import encode_jpeg, encode_progressive_jpeg
    from etl_cli_spark.operators.multimodal import MEDIA_SCHEMA, _decode_pixels

    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    prog = bytes(encode_progressive_jpeg(px, grayscale=True))
    truncated = prog[: len(prog) - (len(prog) - prog.find(b"\xFF\xDA")) // 2]

    base = bytearray(encode_jpeg(px, grayscale=True))
    i = bytes(base).find(b"\xFF\xC4")
    wrong_dht = bytearray(base)
    wrong_dht[i + 4] = 0x05  # DHT now defines table id 5; SOS wants id 0
    sos_first = bytes(base)
    soi, sof = sos_first.find(b"\xFF\xC0"), sos_first.find(b"\xFF\xDA")
    no_sof = sos_first[:soi] + sos_first[sof:]  # drop the SOF segment

    bad = [truncated, bytes(wrong_dht), no_sof]
    for payload in bad:
        assert _decode_pixels(payload) is None
    rows = [
        (i, "image", bytearray(p), (8, 8, None, None, "jpeg"))
        for i, p in enumerate(bad)
    ]
    got = decode_images(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()
    assert len(got) == 3 and all(r.dec_digest is not None for r in got)


def test_probe_media_headers_only(spark):
    """probe_media answers format/width/height from container headers
    for every fixture format; unknown payloads probe to NULLs."""
    from pyspark.sql import functions as F

    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        jpeg_spec,
        make_fake_jpeg,
        make_fake_media,
        media_dims,
        probe_media,
    )

    media = make_fake_media(spark, n=9).unionByName(
        make_fake_jpeg(spark, n=4).withColumn("media_id", F.col("media_id") + 100)
    )
    rows = {r.media_id: r for r in probe_media(media).collect()}
    for i in range(9):
        w, h = media_dims(i)
        r = rows[i]
        assert (r.probe_format, r.probe_width, r.probe_height) == (
            ("ppm", "png", "bmp", "gif")[i % 4], w, h,
        )
        assert r.probe_bytes == len(bytes(r.payload))
    for i in range(4):
        sp = jpeg_spec(i)
        r = rows[100 + i]
        assert (r.probe_format, r.probe_width, r.probe_height) == (
            "jpeg", sp["w"], sp["h"],
        )
    junk = spark.createDataFrame(
        [(0, "image", bytearray(b"garbage"), (None, None, None, None, None))],
        MEDIA_SCHEMA,
    )
    j = probe_media(junk).first()
    assert j.probe_format is None and j.probe_width is None


def test_probe_one_gif_and_wav():
    import struct

    from etl_cli_spark.operators.multimodal import _probe_one, encode_wav, media_samples

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 10
    assert _probe_one(gif) == ("gif", 320, 200)
    wav = encode_wav(media_samples(0, 100), sample_rate=8000)
    assert _probe_one(wav) == ("wav", None, None)
    assert _probe_one(b"") == (None, None, None)


# -- GIF (round-5: real LZW decode, pure stdlib/numpy) -----------------------


def test_gif_roundtrip_palette_and_interlace():
    """encode_gif -> _decode_gif is exact across palette sizes (2..256
    colors -> min code sizes 2..8), interlaced and sequential, odd
    dimensions, and payloads long enough to grow the code width."""
    import numpy as np

    from etl_cli_spark.operators.multimodal import _decode_gif, encode_gif

    rng = np.random.default_rng(11)
    for ncol in (2, 5, 17, 250):
        base = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
        px = base[rng.integers(0, ncol, size=(13, 29))]
        for il in (False, True):
            w, h, out = _decode_gif(encode_gif(px, interlace=il))
            assert (w, h) == (29, 13)
            assert np.array_equal(out, px)


def test_gif_dictionary_reset_at_4096():
    """A payload whose LZW dictionary fills forces the encoder's CLEAR
    + reset; the decoder must resynchronize mid-stream."""
    import numpy as np

    from etl_cli_spark.operators.multimodal import _decode_gif, encode_gif

    rng = np.random.default_rng(13)
    base = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    px = base[rng.integers(0, 256, size=(150, 200))]
    assert np.array_equal(_decode_gif(encode_gif(px))[2], px)


def test_gif_subframe_composes_on_background():
    """An image descriptor smaller than the logical screen composes onto
    a background-color canvas (the poster-frame contract)."""
    import struct

    import numpy as np

    from etl_cli_spark.operators.multimodal import _decode_gif, encode_gif

    inner = np.full((2, 3, 3), 7, dtype=np.uint8)
    data = bytearray(encode_gif(inner))
    struct.pack_into("<HH", data, 6, 5, 4)      # screen 5x4, frame 3x2
    # GCT here is 2 entries (1-bit depth) -> descriptor's 0x2C at 13+6;
    # left/top are the two u16s right after it
    desc = 13 + 2 * 3
    assert data[desc] == 0x2C
    struct.pack_into("<HH", data, desc + 1, 1, 1)  # left=1, top=1
    w, h, out = _decode_gif(bytes(data))
    assert (w, h) == (5, 4)
    assert np.array_equal(out[1:3, 1:4], inner)
    assert (out[0] == out[0, 0]).all()  # background-filled border


def test_gif_rejects_malformed():
    import numpy as np
    import pytest as _pytest

    from etl_cli_spark.operators.multimodal import (
        _decode_gif,
        _decode_pixels,
        encode_gif,
    )

    with _pytest.raises(ValueError, match="signature"):
        _decode_gif(b"GIF00a" + b"\x00" * 20)
    good = encode_gif(np.arange(48, dtype=np.uint8).reshape(4, 4, 3))
    with _pytest.raises(ValueError, match="truncated|ran out|image descriptor"):
        _decode_gif(good[:20])
    assert _decode_pixels(good[:20]) is None  # batch contract: degrade
    with _pytest.raises(ValueError):
        encode_gif(np.arange(2048 * 3, dtype=np.int32).reshape(-1, 2, 3) % 256 * 0 +
                   np.arange(2048 * 3).reshape(-1, 2, 3) % 257)  # >256 colors


def test_gif_animation_compositing_disposal_and_transparency():
    """Animated decode composites like a browser: a transparent subframe
    delta draws only its opaque pixels over the persistent canvas;
    disposal=2 restores the drawn region to background before the next
    frame; disposal=3 restores the previous canvas."""
    import numpy as np

    from etl_cli_spark.operators.multimodal import (
        _decode_gif_frames,
        encode_gif_animation,
    )

    W, H = 6, 4
    bgc = np.array([10, 10, 10], dtype=np.uint8)
    red = np.array([200, 0, 0], dtype=np.uint8)
    green = np.array([0, 200, 0], dtype=np.uint8)
    key = np.array([1, 2, 3], dtype=np.uint8)  # transparent marker color

    base = np.tile(bgc, (H, W, 1))
    # frame 2: a 2x2 red patch at (1,1) inside a transparent delta
    delta = np.tile(key, (2, 2, 1)).astype(np.uint8)
    delta[0, 0] = red
    delta[1, 1] = red
    # frame 3: full green frame with disposal=3 (restore previous)
    full_green = np.tile(green, (H, W, 1)).astype(np.uint8)
    # frame 4: transparent no-op delta — must show the RESTORED canvas
    noop = np.tile(key, (1, 1, 1)).astype(np.uint8)

    data = encode_gif_animation(
        [base, delta, full_green, noop],
        delays_ms=[100, 200, 300, 400],
        offsets=[(0, 0), (1, 1), (0, 0), (0, 0)],
        screen=(W, H),
        disposals=[1, 1, 3, 1],
        transparent_color=tuple(key),
    )
    sw, sh, frames = _decode_gif_frames(data)
    assert (sw, sh) == (W, H)
    assert [d for d, _ in frames] == [100, 200, 300, 400]
    f1, f2, f3, f4 = [f for _, f in frames]
    assert (f1 == bgc).all()
    # delta drew ONLY its opaque pixels
    assert (f2[1, 1] == red).all() and (f2[2, 2] == red).all()
    assert (f2[1, 2] == bgc).all() and (f2[0, 0] == bgc).all()
    assert (f3 == green).all()
    assert np.array_equal(f4, f2)  # disposal=3 restored the pre-green canvas


def test_gif_disposal_2_restores_background():
    import numpy as np

    from etl_cli_spark.operators.multimodal import (
        _decode_gif_frames,
        encode_gif_animation,
    )

    bgc = np.array([7, 7, 7], dtype=np.uint8)
    blue = np.tile(np.array([0, 0, 250], dtype=np.uint8), (2, 2, 1))
    base = np.tile(bgc, (4, 4, 1)).astype(np.uint8)
    noop = np.tile(np.array([9, 9, 9], dtype=np.uint8), (1, 1, 1))
    data = encode_gif_animation(
        [base, blue, noop],
        delays_ms=[100, 100, 100],
        offsets=[(0, 0), (2, 2), (0, 0)],
        screen=(4, 4),
        disposals=[1, 2, 1],  # blue patch disposed to background
        background=tuple(bgc),
    )
    _w, _h, frames = _decode_gif_frames(data)
    f2, f3 = frames[1][1], frames[2][1]
    assert (f2[2:, 2:] == [0, 0, 250]).all()
    assert (f3[2:, 2:] == bgc).all()  # wiped back to background


def test_sample_frames_animated_gif(spark):
    """sample_frames over animated GIFs: digests equal sha256 of the
    independently-recomputed pattern frames, timing from GCE delays."""
    import hashlib as _hl

    from etl_cli_spark.operators.multimodal import (
        make_fake_gif_video,
        media_dims,
        media_pixels,
        sample_frames,
    )

    video = make_fake_gif_video(spark, n=4, frame_ms=250)
    rows = {(r.media_id, r.frame_idx): r for r in
            sample_frames(video, every_ms=1000).collect()}
    for i in range(4):
        w, h = media_dims(i)
        dur = 2000 + 500 * (i % 3)
        for s, ts in enumerate(range(0, dur, 1000)):
            fi = min(ts // 250, dur // 250 - 1)
            want = _hl.sha256(media_pixels(i * 1000 + fi, w, h).tobytes()).digest()[:16]
            assert bytes(rows[(i, s)].frame_digest) == want


def test_allocation_bomb_headers_fail_before_alloc():
    """A corrupt header claiming absurd dimensions (PNG 50k x 50k, GIF
    65535 x 65535) must raise ValueError BEFORE any pixel buffer is
    allocated — one crawl payload must not OOM an executor; and a valid
    PNG header with garbage IDAT surfaces as ValueError, not
    zlib.error."""
    import struct
    import zlib

    import pytest as _pytest

    from etl_cli_spark.operators.multimodal import (
        _PNG_SIG,
        _decode_gif,
        _decode_pixels,
        _decode_png,
    )

    def chunk(ctype, payload):
        return (struct.pack(">I", len(payload)) + ctype + payload
                + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF))

    bomb_png = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 50_000, 50_000, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="implausible PNG"):
        _decode_png(bomb_png)

    bad_idat = (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", b"not deflate data at all")
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="corrupt PNG IDAT"):
        _decode_png(bad_idat)

    bomb_gif = (
        b"GIF89a" + struct.pack("<HH", 65535, 65535) + bytes([0x00, 0, 0]) + b"\x3B"
    )
    with _pytest.raises(ValueError, match="implausible GIF"):
        _decode_gif(bomb_gif)

    # and through the batch dispatch: all three degrade to None
    for p in (bomb_png, bad_idat, bomb_gif):
        assert _decode_pixels(p) is None


def test_audio_features_integer_exact(spark):
    """Per-frame energy / zero-crossings / peak replay bit-for-bit from
    the fixture sample formula (all-integer contract, round-7)."""
    from etl_cli_spark.operators.multimodal import audio_features, make_fake_audio

    got = {
        (r.media_id, r.frame_idx): (r.n_samples, r.energy, r.zero_crossings, r.peak)
        for r in audio_features(make_fake_audio(spark, n=6), frame_ms=25).collect()
    }
    checked = 0
    for i in range(6):
        sr, n_samp = 8000 + 4000 * (i % 3), 400 + 30 * i
        s = [((1234 * i + 17 * j) % 65536) - 32768 for j in range(n_samp)]
        sign, prev = [], 1
        for v in s:
            prev = prev if v == 0 else (1 if v > 0 else -1)
            sign.append(prev)
        step = sr * 25 // 1000
        for fi, start in enumerate(range(0, n_samp, step)):
            fr, fs = s[start : start + step], sign[start : start + step]
            exp = (
                len(fr),
                sum(v * v for v in fr),
                sum(1 for a, b in zip(fs, fs[1:]) if a != b),
                max(abs(v) for v in fr),
            )
            assert got[(i, fi)] == exp, (i, fi, got[(i, fi)], exp)
            checked += 1
    assert checked == len(got) and checked > 10


def test_audio_features_stereo_mix_zeros_and_skip(spark):
    """Stereo mixes with floor-toward-zero integer mean; zero samples
    inherit the previous sign for the crossing count; non-WAV payloads
    yield no rows (skip contract)."""
    import struct as _st

    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_features,
        encode_wav,
    )

    # stereo: channels (-5, +4) mix to int(-0.5) == 0 (toward zero);
    # (10, 20) -> 15
    sr = 8000
    inter = [(-5, 4), (10, 20), (-3, -7), (0, 0), (8, -8)]
    body = b"".join(_st.pack("<hh", a, b) for a, b in inter)
    wav = (
        b"RIFF" + _st.pack("<I", 36 + len(body)) + b"WAVE"
        + b"fmt " + _st.pack("<IHHIIHH", 16, 1, 2, sr, sr * 4, 4, 16)
        + b"data" + _st.pack("<I", len(body)) + body
    )
    df = spark.createDataFrame(
        [
            (1, "audio", bytearray(wav), (None, None, sr, 0, "wav")),
            (2, "audio", bytearray(b"not audio at all"), (None, None, None, 0, "txt")),
        ],
        MEDIA_SCHEMA,
    )
    rows = audio_features(df, frame_ms=1000).collect()
    assert {r.media_id for r in rows} == {1}
    (r,) = rows
    # mixed mono stream: [0, 15, -5, 0, 0]; signs: [+,+,-,-,-] -> 1 crossing
    assert r.n_samples == 5
    assert r.energy == 0 + 225 + 25 + 0 + 0
    assert r.zero_crossings == 1
    assert r.peak == 15


def test_media_fuzz_all_formats_never_escape_kernels(spark):
    """One mutation fuzz across EVERY fixture format (PPM/PNG/BMP/GIF/
    JPEG/WAV/BMP-reel/animated-GIF + pure junk) through decode_images,
    probe_media, AND extract_features: corrupted payloads must degrade
    to the stub kernel (or a NULL/None probe), never kill a task —
    the same batch-robustness protocol the AVI/JPEG-arith/H.264 fuzzes
    pin per-format (round-7: one harness covers the whole matrix)."""
    import random

    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_images,
        extract_features,
        make_fake_audio,
        make_fake_gif_video,
        make_fake_jpeg,
        make_fake_media,
        make_fake_video,
        probe_media,
    )

    rng = random.Random(17)
    seeds = []
    for maker, n in (
        (make_fake_media, 8),
        (make_fake_jpeg, 4),
        (make_fake_audio, 3),
        (make_fake_video, 3),
        (make_fake_gif_video, 3),
    ):
        for r in maker(spark, n=n).collect():
            seeds.append(bytes(r.payload))
    payloads = []
    for seed in seeds:
        data = bytearray(seed)
        for _ in range(rng.randint(1, 8)):
            data[rng.randrange(len(data))] = rng.randrange(256)
        payloads.append(bytes(data))
        payloads.append(seed[: rng.randrange(1, max(2, len(seed)))])
    payloads.append(b"\x00")
    payloads.append(b"garbage that is no format at all")
    df = spark.createDataFrame(
        [
            (i, "image", bytearray(p), (8, 6, 8000, 2000, "fuzz"))
            for i, p in enumerate(payloads)
        ],
        MEDIA_SCHEMA,
    )
    n = len(payloads)
    dec = decode_images(df).collect()
    assert len(dec) == n and all(r.dec_digest is not None for r in dec)
    pr = probe_media(df).collect()
    assert len(pr) == n  # probe may be NULL, must never throw
    feats = extract_features(df, dim=16).collect()
    assert len(feats) == n and all(len(r.feature) == 16 for r in feats)
    from etl_cli_spark.operators.multimodal import decode_audio, resize_images

    aud = decode_audio(df).collect()
    assert len(aud) == n and all(r.dec_digest is not None for r in aud)
    rez = resize_images(df, 4, 4).collect()
    assert len(rez) == n


def test_sample_frames_fuzz_reel_and_gif_degrade(spark):
    """Mutated/truncated BMP reels and animated GIFs through
    sample_frames must yield stub-or-real digest rows, never a task
    death — the AVI/H.264 fuzz protocol now covers the remaining two
    video containers (round-7)."""
    import random

    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        make_fake_gif_video,
        make_fake_video,
        sample_frames,
    )

    rng = random.Random(23)
    seeds = [bytes(r.payload) for r in make_fake_video(spark, n=2).collect()]
    seeds += [bytes(r.payload) for r in make_fake_gif_video(spark, n=2).collect()]
    payloads = []
    for seed in seeds:
        for _ in range(12):
            data = bytearray(seed)
            for _ in range(rng.randint(1, 6)):
                data[rng.randrange(len(data))] = rng.randrange(256)
            payloads.append(bytes(data))
        for cut in (3, 20, len(seed) - 2):
            payloads.append(seed[:cut])
    df = spark.createDataFrame(
        [
            (i, "video", bytearray(p), (8, 6, None, 2000, "fuzz"))
            for i, p in enumerate(payloads)
        ],
        MEDIA_SCHEMA,
    )
    rows = sample_frames(df, every_ms=1000).collect()
    by_vid: dict = {}
    for r in rows:
        assert r.frame_digest is not None
        by_vid[r.media_id] = by_vid.get(r.media_id, 0) + 1
    assert all(by_vid.get(i, 0) == 2 for i in range(len(payloads)))


def test_phash_is_format_invariant(spark):
    """The same pixels encoded as PPM, PNG, BMP, and GIF must produce
    the SAME perceptual hash — the property that makes dHash a
    re-encode-proof dedup key (round 13)."""
    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        encode_gif,
        encode_png,
        encode_ppm,
        neardup_pixels,
        phash_images,
    )

    px = neardup_pixels(2, 0, 16, 12)
    rows = [
        (i, "image", bytearray(enc(px)), (16, 12, None, None, fmt))
        for i, (fmt, enc) in enumerate(
            [("ppm", encode_ppm), ("png", encode_png),
             ("bmp", encode_bmp), ("gif", encode_gif)]
        )
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    hashes = {r.phash for r in phash_images(df).collect()}
    assert len(hashes) == 1 and None not in hashes


def test_image_neardup_recovers_planted_groups(spark):
    """The near-dup fixture plants groups of single-cell-bumped copies;
    image_neardup must pair every in-group combination and nothing
    across groups, with distances within the planted bound."""
    from etl_cli_spark.operators.multimodal import (
        image_neardup,
        make_fake_media_neardup,
    )

    nd = make_fake_media_neardup(spark, n_groups=6, per_group=3)
    pairs = sorted(
        (r.a_id, r.b_id, r.distance) for r in image_neardup(nd).collect()
    )
    want = sorted(
        (g * 3 + a, g * 3 + b)
        for g in range(6)
        for a in range(3)
        for b in range(a + 1, 3)
    )
    assert [(a, b) for a, b, _ in pairs] == want
    assert all(0 <= d <= 6 for _, _, d in pairs)
    # each member bumps j extra cells vs member 0 -> <= 2 bits per bump
    assert all(d <= 2 * 2 for a, b, d in pairs)


def test_image_neardup_pigeonhole_bound_enforced(spark):
    """max_distance beyond chunks-1 breaks the exact-recall guarantee
    and must be refused, not silently under-recalled."""
    import pytest

    from etl_cli_spark.operators.multimodal import (
        image_neardup,
        make_fake_media_neardup,
    )

    nd = make_fake_media_neardup(spark, n_groups=2, per_group=2)
    with pytest.raises(ValueError, match="pigeonhole"):
        image_neardup(nd, max_distance=8, chunks=8)


def test_phash_matches_independent_python_replay(spark):
    """Differential: the numpy kernel vs a from-scratch pure-python
    dHash over the same decoded spec — pins the luma coefficients, the
    resample index map, and the y-major bit packing."""
    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_ppm,
        neardup_pixels,
        phash_images,
    )

    g, m, w, h = 3, 1, 17, 13
    px = neardup_pixels(g, m, w, h)
    df = spark.createDataFrame(
        [(0, "image", bytearray(encode_ppm(px)), (w, h, None, None, "ppm"))],
        MEDIA_SCHEMA,
    )
    got = phash_images(df).collect()[0].phash

    def luma(y, x):
        r, gg, b = (int(px[y, x, c]) for c in range(3))
        return (77 * r + 150 * gg + 29 * b) >> 8

    ys = [(yy * h) // 8 for yy in range(8)]
    xs = [(xx * w) // 9 for xx in range(9)]
    grid = [[luma(sy, sx) for sx in xs] for sy in ys]
    v = 0
    for yy in range(8):
        for xx in range(8):
            if grid[yy][xx] > grid[yy][xx + 1]:
                v |= 1 << (yy * 8 + xx)
    want = v - (1 << 64) if v >= (1 << 63) else v
    assert got == want


def test_audio_neardup_recovers_planted_groups(spark):
    """The audio near-dup fixture plants groups of single-frame-silenced
    copies; audio_neardup must pair every in-group combination and
    nothing across groups (measured cross-group minimum is 15 bits)."""
    from etl_cli_spark.operators.multimodal import (
        audio_neardup,
        make_fake_audio_neardup,
    )

    nd = make_fake_audio_neardup(spark, n_groups=6, per_group=3)
    pairs = sorted(
        (r.a_id, r.b_id, r.distance) for r in audio_neardup(nd).collect()
    )
    want = sorted(
        (g * 3 + a, g * 3 + b)
        for g in range(6)
        for a in range(3)
        for b in range(a + 1, 3)
    )
    assert [(a, b) for a, b, _ in pairs] == want
    assert all(0 <= d <= 6 for _, _, d in pairs)


def test_audio_fingerprint_null_on_undecodable_and_matches_replay(spark):
    """Non-WAV payloads fingerprint to NULL (and are excluded from the
    near-dup join); decodable payloads match a from-scratch pure-python
    replay of the frame-energy-contour spec."""
    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprint,
        encode_wav,
        neardup_samples,
    )

    s = neardup_samples(4, 1)
    rows = [
        (0, "audio", bytearray(encode_wav(s, sample_rate=8000)),
         (None, None, 8000, None, "wav")),
        (1, "audio", bytearray(b"not a wav at all"), (None, None, None, None, "junk")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r.afp for r in audio_fingerprint(df).collect()}
    assert got[1] is None

    vals = [int(x) for x in s]
    energies = []
    for f in range(65):
        lo, hi = (f * len(vals)) // 65, ((f + 1) * len(vals)) // 65
        energies.append(sum(v * v for v in vals[lo:hi]))
    v = 0
    for f in range(64):
        if energies[f] > energies[f + 1]:
            v |= 1 << f
    want = v - (1 << 64) if v >= (1 << 63) else v
    assert got[0] == want


def test_audio_neardup_pigeonhole_bound_enforced(spark):
    import pytest

    from etl_cli_spark.operators.multimodal import (
        audio_neardup,
        make_fake_audio_neardup,
    )

    nd = make_fake_audio_neardup(spark, n_groups=2, per_group=2)
    with pytest.raises(ValueError, match="pigeonhole"):
        audio_neardup(nd, max_distance=9, chunks=8)


def test_audio_fingerprint_robust_to_stereo_mix(spark):
    """A stereo clip whose two channels are identical must fingerprint
    exactly like its mono version (floor-toward-zero mean mix)."""
    import numpy as np

    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprint,
        encode_wav,
        neardup_samples,
    )

    s = neardup_samples(2, 0)
    stereo = np.repeat(s, 2).astype("<i2")  # L=R interleaved
    rows = [
        (0, "audio", bytearray(encode_wav(s, sample_rate=8000)),
         (None, None, 8000, None, "wav")),
        (1, "audio", bytearray(encode_wav(stereo, sample_rate=8000, channels=2)),
         (None, None, 8000, None, "wav")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r.afp for r in audio_fingerprint(df).collect()}
    assert got[0] == got[1] and got[0] is not None


def test_video_neardup_recovers_planted_reels(spark):
    """The video fixture plants groups of whole-frame-edited reels;
    video_neardup must pair every in-group combination (>= 3 of 6
    unedited frames shared) and nothing across groups."""
    from etl_cli_spark.operators.multimodal import (
        make_fake_video_neardup,
        video_neardup,
    )

    nd = make_fake_video_neardup(spark, n_groups=4, per_group=3, n_frames=6)
    pairs = sorted(
        (r.a_id, r.b_id, r.n_matched) for r in video_neardup(nd).collect()
    )
    want = sorted(
        (g * 3 + a, g * 3 + b)
        for g in range(4)
        for a in range(3)
        for b in range(a + 1, 3)
    )
    assert [(a, b) for a, b, _ in pairs] == want
    # member m edits m frames: a pair (a, b) shares >= 6 - max(a%3,b%3)
    # SAME-INDEX unedited frames (cross-index matches can only add)
    assert all(
        n >= 6 - max(a % 3, b % 3) - min(a % 3, b % 3) for a, b, n in pairs
    )


def test_video_phash_frames_hash_like_images(spark):
    """A one-frame BMP reel must produce exactly the image dHash of
    that frame — the video path is the image kernel per sampled
    frame, not a different hash."""
    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _dhash64,
        encode_bmp,
        video_neardup_pixels,
        video_phash,
    )

    px = video_neardup_pixels(1, 0, 17, 13)
    df = spark.createDataFrame(
        [(0, "video", bytearray(encode_bmp(px)), (17, 13, None, 1000, "bmp_reel"))],
        MEDIA_SCHEMA,
    )
    rows = video_phash(df, every_ms=1000).collect()
    assert len(rows) == 1 and rows[0].frame_idx == 0
    assert rows[0].phash == _dhash64(px)


def test_phash_null_on_undecodable_and_neardup_survives(spark):
    """Batch-robustness contract (round-13 advice, mirrors
    audio_fingerprint): a NULL or undecodable image payload must
    fingerprint to NULL — one corrupt image in a crawl batch must not
    abort the job — and image_neardup must filter it out while still
    pairing the healthy images."""
    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_ppm,
        image_neardup,
        neardup_pixels,
        phash_images,
    )

    good = [
        (i, "image", bytearray(encode_ppm(neardup_pixels(0, i, 16, 12))),
         (16, 12, None, None, "ppm"))
        for i in range(2)
    ]
    bad = [
        (2, "image", bytearray(b"\x00\x01garbage-not-an-image"),
         (0, 0, None, None, "bin")),
        (3, "image", None, (0, 0, None, None, "none")),
    ]
    df = spark.createDataFrame(good + bad, MEDIA_SCHEMA)
    got = {r.media_id: r.phash for r in phash_images(df).collect()}
    assert got[0] is not None and got[1] is not None
    assert got[2] is None and got[3] is None
    pairs = [(r.a_id, r.b_id) for r in image_neardup(df).collect()]
    assert pairs == [(0, 1)]


def test_video_neardup_rejects_out_of_range_media_ids(spark):
    """The composite frame id packs media_id * 100000 + frame_idx into
    a long; negative or too-large ids would silently mispair videos, so
    they must fail fast (round-13 advice fix)."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        make_fake_video_neardup,
        video_neardup,
    )
    from pyspark.sql import functions as F

    vids = make_fake_video_neardup(spark, n_groups=2, per_group=2)
    bad = vids.withColumn(
        "media_id",
        F.when(F.col("media_id") == 0, F.lit(-1)).otherwise(F.col("media_id")),
    )
    with pytest.raises(Exception, match="composite-id range"):
        video_neardup(bad).collect()


def test_video_neardup_composite_decode_is_integer_exact(spark):
    """Composite ids above 2^53 lose exactness under double division;
    the div-based decode must keep pairing exact for large media_ids
    (round-13 advice fix). Ids are shifted near the packing bound."""
    from etl_cli_spark.operators.multimodal import (
        make_fake_video_neardup,
        video_neardup,
    )
    from pyspark.sql import functions as F

    base = 92_233_720_368_000  # near (2^63-1) div 100000, still valid
    vids = make_fake_video_neardup(spark, n_groups=2, per_group=2)
    shifted = vids.withColumn("media_id", F.col("media_id") + F.lit(base))
    pairs = sorted((r.a_id, r.b_id) for r in video_neardup(shifted).collect())
    want = sorted(
        (base + g * 2, base + g * 2 + 1) for g in range(2)
    )
    assert pairs == want


def test_video_neardup_skips_undecodable_payloads(spark):
    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        video_neardup,
        video_phash,
    )

    df = spark.createDataFrame(
        [(0, "video", bytearray(b"garbage not a reel"), (8, 6, None, 3000, "x"))],
        MEDIA_SCHEMA,
    )
    assert video_phash(df).count() == 0
    assert video_neardup(df).count() == 0


# --------------------------------------------------------------------------
# persisted media-fingerprint index (round-14)
# --------------------------------------------------------------------------

def _index_fixture(spark, tmp_path, n_groups=6, n_parts=16):
    from etl_cli_spark.operators.multimodal import (
        build_media_index,
        make_fake_media_neardup,
    )

    corpus = make_fake_media_neardup(spark, n_groups=n_groups, per_group=3)
    path = str(tmp_path / "idx")
    build_media_index(corpus, path, chunks=8, n_parts=n_parts)
    return corpus, path


def _new_batch(spark, groups, members=(3, 4), id_base=1000):
    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        neardup_dims,
        neardup_pixels,
    )

    rows = []
    for gi, g in enumerate(groups):
        w, h = neardup_dims(g)
        for mi, m in enumerate(members):
            px = neardup_pixels(g, m, w, h)
            rows.append(
                (id_base + gi * len(members) + mi, "image",
                 bytearray(encode_bmp(px)), (w, h, None, None, "bmp"))
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_media_index_probe_equals_direct_cross_pairs(spark, tmp_path):
    """The partition-pruned indexed probe must return EXACTLY the
    brute-force cross-corpus pair set (pigeonhole recall is exact for
    distance <= chunks-1; the verify is the same Hamming filter)."""
    from pyspark.sql import functions as F

    from etl_cli_spark.operators.dedup import hamming64
    from etl_cli_spark.operators.multimodal import (
        media_neardup_indexed,
        phash_images,
    )

    corpus, path = _index_fixture(spark, tmp_path)
    batch = _new_batch(spark, groups=range(8))  # 6,7 never indexed
    got = sorted(
        (r.new_id, r.old_id, r.distance)
        for r in media_neardup_indexed(batch, path, max_distance=6).collect()
    )
    old = phash_images(corpus).select(
        F.col("media_id").alias("old_id"), F.col("phash").alias("old_sh")
    )
    new = phash_images(batch).select(
        F.col("media_id").alias("new_id"), F.col("phash").alias("new_sh")
    )
    brute = sorted(
        (r.new_id, r.old_id, r.distance)
        for r in new.crossJoin(old)
        .withColumn("distance", hamming64(F.col("new_sh"), F.col("old_sh")))
        .filter("distance <= 6")
        .collect()
    )
    assert got == brute and len(got) > 0
    # unseen groups (6, 7) must contribute nothing
    assert all((n - 1000) // 2 < 6 for n, _, _ in got)


def test_media_index_probe_partition_prunes(spark, tmp_path):
    """A small batch touches at most 8 band values (one per chunk per
    distinct fingerprint); with n_parts=64 the index scan must carry a
    PartitionFilter on __bb listing only those dirs, not all 64."""
    import re

    from etl_cli_spark.operators.multimodal import media_neardup_indexed

    _, path = _index_fixture(spark, tmp_path, n_parts=64)
    batch = _new_batch(spark, groups=[0])  # 2 images -> <= 16 pieces
    out = media_neardup_indexed(batch, path, max_distance=6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # small probes render "__bb#N IN (1,3,...)", large ones "INSET 1, 3"
    m = re.search(r"PartitionFilters: \[__bb#\d+ (?:IN \(|INSET )([^\])]*)", plan)
    assert m, plan[:2000]
    n_dirs = len(m.group(1).split(","))
    assert n_dirs <= 16  # 2 images x 8 chunks upper bound, far below 64


def test_media_index_append_equals_rebuild(spark, tmp_path):
    """append_media_fingerprints under frozen params must produce the
    same banded rows as a from-scratch rebuild over the union."""
    from etl_cli_spark.operators.multimodal import (
        append_media_fingerprints,
        build_media_index,
        make_fake_media_neardup,
    )

    corpus, path = _index_fixture(spark, tmp_path)
    batch = _new_batch(spark, groups=range(4))
    append_media_fingerprints(batch, path)
    path2 = str(tmp_path / "idx2")
    build_media_index(
        corpus.unionByName(batch), path2, chunks=8, n_parts=16
    )
    from etl_cli_spark.operators.writeops import ParquetTable

    rows = lambda p: sorted(
        map(tuple, ParquetTable(spark, p + "/bands").read()
            .select("id", "sh", "chunk", "piece", "__bb").collect())
    )
    assert rows(path) == rows(path2)


def test_media_index_probe_excludes_batch_ids(spark, tmp_path):
    """Crash-replay self-suppression: after the batch's own fingerprints
    were appended, re-probing the same batch must not pair a batch image
    with itself — the result equals the pre-append probe."""
    from etl_cli_spark.operators.multimodal import (
        append_media_fingerprints,
        media_neardup_indexed,
    )

    _, path = _index_fixture(spark, tmp_path)
    batch = _new_batch(spark, groups=range(4))
    before = sorted(
        map(tuple, media_neardup_indexed(batch, path, max_distance=6).collect())
    )
    append_media_fingerprints(batch, path)
    after = sorted(
        map(tuple, media_neardup_indexed(batch, path, max_distance=6).collect())
    )
    assert after == before
    batch_ids = {1000 + i for i in range(8)}
    assert all(o not in batch_ids for _, o, _ in after)


def test_media_index_hot_bucket_guard_degrades_to_hub(spark, tmp_path):
    """An index-side degenerate bucket (m identical blank fingerprints)
    must contribute only its min-id hub under max_bucket_size — O(1)
    pairs per probe image instead of O(m)."""
    import numpy as np

    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        build_media_index,
        encode_bmp,
        media_neardup_indexed,
    )

    blank = bytearray(encode_bmp(np.full((12, 16, 3), 200, dtype=np.uint8)))
    m = 30
    corpus = spark.createDataFrame(
        [(i, "image", blank, (16, 12, None, None, "bmp")) for i in range(m)],
        MEDIA_SCHEMA,
    )
    path = str(tmp_path / "hot")
    build_media_index(corpus, path, chunks=8, n_parts=16)
    probe = spark.createDataFrame(
        [(999, "image", blank, (16, 12, None, None, "bmp"))], MEDIA_SCHEMA
    )
    exact = media_neardup_indexed(probe, path, max_distance=6).collect()
    assert len(exact) == m  # unguarded: every identical image pairs
    guarded = media_neardup_indexed(
        probe, path, max_distance=6, max_bucket_size=5
    ).collect()
    assert [(r.new_id, r.old_id, r.distance) for r in guarded] == [(999, 0, 0)]


def test_media_index_audio_kind_and_validation(spark, tmp_path):
    import pytest

    from etl_cli_spark.operators.multimodal import (
        build_media_index,
        make_fake_audio_neardup,
        media_neardup_indexed,
    )

    audio = make_fake_audio_neardup(spark, n_groups=3, per_group=3)
    path = str(tmp_path / "aidx")
    build_media_index(audio.filter("media_id % 3 < 2"), path, kind="audio")
    probe = audio.filter("media_id % 3 = 2")
    pairs = sorted(
        (r.new_id, r.old_id)
        for r in media_neardup_indexed(probe, path, max_distance=6).collect()
    )
    # member 2 of each group near-dups members 0 and 1 of ITS group only
    assert pairs == sorted(
        (g * 3 + 2, g * 3 + m) for g in range(3) for m in (0, 1)
    )
    with pytest.raises(ValueError, match="kind"):
        build_media_index(audio, str(tmp_path / "bad"), kind="tabular")
    with pytest.raises(ValueError, match="chunks"):
        build_media_index(audio, str(tmp_path / "bad2"), chunks=7)
    with pytest.raises(ValueError, match="pigeonhole"):
        media_neardup_indexed(probe, path, max_distance=8)


def _video_batch(spark, groups, members=(3, 4), id_base=1000, n_frames=6):
    import numpy as np

    from etl_cli_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        neardup_dims,
        video_neardup_pixels,
    )

    rows = []
    for gi, g in enumerate(groups):
        w, h = neardup_dims(g)
        for mi, m in enumerate(members):
            replaced = {(5 * k + 2) % n_frames for k in range(m)}
            frames = []
            for f in range(n_frames):
                px = video_neardup_pixels(g, f, w, h)
                if f in replaced:
                    px = (
                        (px.astype(np.int64) + 101 * (m + 1) * (m + 1)) % 256
                    ).astype(np.uint8)
                frames.append(encode_bmp(px))
            rows.append(
                (id_base + gi * len(members) + mi, "video",
                 bytearray(b"".join(frames)),
                 (w, h, None, n_frames * 1000, "bmp_reel"))
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_video_index_probe_equals_direct_frame_aggregation(spark, tmp_path):
    """The video-kind indexed probe must equal the brute-force
    frame-level cross join + matched-frame aggregation; member m=3
    shares exactly 3 frames with its group (passes), m=4 only 2
    (below threshold), unseen groups nothing."""
    from pyspark.sql import functions as F

    from etl_cli_spark.operators.dedup import hamming64
    from etl_cli_spark.operators.multimodal import (
        build_media_index,
        make_fake_video_neardup,
        video_neardup_indexed,
        video_phash,
    )

    corpus = make_fake_video_neardup(spark, n_groups=4, per_group=3, n_frames=6)
    path = str(tmp_path / "vidx")
    build_media_index(corpus, path, kind="video", chunks=8, n_parts=16)
    batch = _video_batch(spark, groups=range(6))  # groups 4,5 unseen
    got = sorted(
        map(tuple, video_neardup_indexed(
            batch, path, max_distance=6, min_matched_frames=3
        ).collect())
    )
    nfp = video_phash(batch).select(
        F.col("media_id").alias("nm"), F.col("frame_idx").alias("nf"),
        F.col("phash").alias("nh"),
    )
    ofp = video_phash(corpus).select(
        F.col("media_id").alias("om"), F.col("phash").alias("oh")
    )
    brute = sorted(
        map(tuple, nfp.crossJoin(ofp)
            .withColumn("d", hamming64(F.col("nh"), F.col("oh")))
            .filter("d <= 6").groupBy("nm", "om")
            .agg(F.count_distinct("nf").alias("n")).filter("n >= 3")
            .collect())
    )
    assert got == brute and len(got) == 12
    # m=3 members (even batch offsets) pair with all 3 group members
    assert {(n - 1000) % 2 for n, _, _ in got} == {0}
    assert all(m == 3 for _, _, m in got)


def test_video_index_append_equals_rebuild_and_kind_guard(spark, tmp_path):
    import pytest

    from etl_cli_spark.operators.multimodal import (
        append_media_fingerprints,
        build_media_index,
        make_fake_video_neardup,
        video_neardup_indexed,
    )

    corpus = make_fake_video_neardup(spark, n_groups=3, per_group=2, n_frames=4)
    path = str(tmp_path / "vidx")
    build_media_index(corpus, path, kind="video", chunks=8, n_parts=16)
    batch = _video_batch(spark, groups=[0, 1], members=(2,), n_frames=4)
    append_media_fingerprints(batch, path)
    path2 = str(tmp_path / "vidx2")
    build_media_index(
        corpus.unionByName(batch), path2, kind="video", chunks=8, n_parts=16
    )
    from etl_cli_spark.operators.writeops import ParquetTable

    rows = lambda p: sorted(
        map(tuple, ParquetTable(spark, p + "/bands").read()
            .select("id", "sh", "chunk", "piece", "__bb").collect())
    )
    assert rows(path) == rows(path2)
    # an image-kind index must refuse the video probe
    from etl_cli_spark.operators.multimodal import make_fake_media_neardup

    ipath = str(tmp_path / "iidx")
    build_media_index(
        make_fake_media_neardup(spark, n_groups=2, per_group=2), ipath
    )
    with pytest.raises(ValueError, match="video-kind"):
        video_neardup_indexed(batch, ipath)


def test_dedup_against_media_index_greedy_policy(spark, tmp_path):
    """Batch items near-dup of ANY indexed image drop; within the
    batch, only the smaller-id twin of each pair survives; the video
    kind is refused (its dedup is pair-level)."""
    import pytest

    from etl_cli_spark.operators.multimodal import (
        build_media_index,
        dedup_against_media_index,
        make_fake_video_neardup,
    )

    corpus, path = _index_fixture(spark, tmp_path, n_groups=4)
    # groups 0..3 indexed; 4,5 new — m=3 survives, m=4 loses in-batch
    batch = _new_batch(spark, groups=range(6))
    surv = sorted(
        r.media_id
        for r in dedup_against_media_index(batch, path, max_distance=6).collect()
    )
    assert surv == [1000 + 4 * 2, 1000 + 5 * 2]
    vpath = str(tmp_path / "vidx")
    build_media_index(
        make_fake_video_neardup(spark, n_groups=2, per_group=2, n_frames=4),
        vpath, kind="video",
    )
    with pytest.raises(ValueError, match="pair-level"):
        dedup_against_media_index(batch, vpath)


def test_dedup_against_media_index_replay_keeps_original_survivors(spark, tmp_path):
    """Crash-replay contract: after the batch's own fingerprints were
    appended (write happened, checkpoint didn't), re-running the dedup
    keeps exactly the original survivor set instead of self-dedup-ing
    to empty."""
    from etl_cli_spark.operators.multimodal import (
        append_media_fingerprints,
        dedup_against_media_index,
    )

    _, path = _index_fixture(spark, tmp_path, n_groups=4)
    batch = _new_batch(spark, groups=range(6))
    before = sorted(
        r.media_id for r in dedup_against_media_index(batch, path).collect()
    )
    append_media_fingerprints(batch, path)
    after = sorted(
        r.media_id for r in dedup_against_media_index(batch, path).collect()
    )
    assert after == before


def test_html_images_harvest(spark):
    from pyspark.sql import functions as F

    from etl_cli_spark.operators.text import html_images

    html = (
        '<p>x</p><img class="a" src="https://x/1" alt="one">'
        '<IMG ALT="two" SRC="https://x/2">'   # case + attribute order
        '<img src="https://x/3">'             # no alt -> ''
        "<img src='https://x/4' alt='sq'>"    # single quotes: out of scope
        '<img alt="nosrc">'                   # no src: dropped
    )
    rows = (
        spark.createDataFrame([(html,)], "h string")
        .select(F.explode(html_images("h")).alias("r"))
        .select("r.src", "r.alt")
        .collect()
    )
    assert [(r.src, r.alt) for r in rows] == [
        ("https://x/1", "one"), ("https://x/2", "two"), ("https://x/3", ""),
    ]


def test_image_text_pairs_assembly(spark):
    """Dup collapse across formats (PNG copy of a BMP original shares
    the dHash), caption election (longest alt, then greatest alt, then
    smallest doc), dangling refs and unreferenced images dropped."""
    from etl_cli_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
        image_text_pairs,
        neardup_dims,
        neardup_pixels,
    )

    rows = []
    for g in range(2):
        w, h = neardup_dims(g)
        for m in range(2):
            rows.append(
                (g * 2 + m, f"https://x/m/{g * 2 + m}",
                 bytearray(encode_bmp(neardup_pixels(g, m, w, h))))
            )
    w, h = neardup_dims(0)
    rows.append(
        (100, "https://x/c/0", bytearray(encode_png(neardup_pixels(0, 0, w, h))))
    )
    media = spark.createDataFrame(rows, "media_id long, url string, payload binary")
    docs = spark.createDataFrame(
        [
            (1, '<img src="https://x/m/0" alt="short">'),
            (2, '<img alt="a much longer caption here" src="https://x/c/0">'
                '<img src="https://x/m/999" alt="dangling">'),
            (3, '<img src="https://x/m/3" alt="solo"><img alt="nosrc">'),
            (4, '<img src="https://x/m/0" alt="short">'),
        ],
        "doc_id long, html string",
    )
    out = sorted(map(tuple, image_text_pairs(docs, media).collect()))
    assert out == [
        (0, "https://x/m/0", "a much longer caption here", 3, 2),
        (3, "https://x/m/3", "solo", 1, 1),
    ]
