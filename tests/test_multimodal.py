"""Multimodal tests: the Spark-side machinery (schema, Arrow batches,
metadata pruning) plus the REAL pure-Python codecs (BMP/WAV/PNG/JPEG/
GIF stills and, as of r11, MJPEG-in-AVI video) — features and sampled
frames must come from decoded pixels/samples, not synthesized from
payload bytes. Non-MJPEG video (MP4/H.264) stays the documented
NotImplementedError boundary."""

from __future__ import annotations

import numpy as np
import pytest

from map_reduce_spark.functions.multimodal import (
    FEATURE_DIM,
    MediaDecoder,
    encode_bmp,
    encode_wav,
    extract_features,
    resize_images,
    sample_frames,
    synthetic_media,
)


def test_features_schema_and_shape(spark):
    media = synthetic_media(spark, n=30)
    feats = extract_features(media).collect()
    # video rows dropped (unsupported), image+audio kept
    assert {r.kind for r in feats} == {"image", "audio"}
    assert len(feats) == 20
    for r in feats:
        assert len(r.feature) == FEATURE_DIM
        norm = float(np.linalg.norm(r.feature))
        assert abs(norm - 1.0) < 1e-5
        assert r.n_bytes > 0


def test_unsupported_kind_raises_when_not_skipped(spark):
    media = synthetic_media(spark, n=6)  # includes video rows
    with pytest.raises(Exception, match="NotImplementedError|media library"):
        extract_features(media, skip_unsupported=False).collect()


def test_decoder_deterministic():
    rng = np.random.default_rng(7)
    payload = encode_bmp(rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8))
    a = MediaDecoder.features(payload, "image")
    b = MediaDecoder.features(payload, "image")
    assert np.array_equal(a, b)


def test_bmp_roundtrip_exact():
    """encode->decode recovers the exact pixel array, including widths
    that need 4-byte row padding (13*3 = 39 bytes -> stride 40)."""
    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (9, 13), (16, 16), (5, 2)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        got = MediaDecoder.decode_bmp(encode_bmp(px))
        assert got.shape == (h, w, 3)
        assert np.array_equal(got, px)


def test_bmp_top_down_rows():
    """Negative height = top-down row order (the other real-world BMP
    layout) must decode to the same image."""
    rng = np.random.default_rng(12)
    px = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    buf = bytearray(encode_bmp(px))
    import struct

    # flip to top-down: negate height, reverse stored row order
    (h,) = struct.unpack_from("<i", buf, 22)
    struct.pack_into("<i", buf, 22, -h)
    stride = (5 * 3 + 3) // 4 * 4
    body = buf[54:]
    rows = [bytes(body[i * stride : (i + 1) * stride]) for i in range(6)]
    buf[54:] = b"".join(reversed(rows))
    assert np.array_equal(MediaDecoder.decode_bmp(bytes(buf)), px)


def test_ppm_pgm_roundtrip_exact():
    """encode->decode recovers exact pixels for binary PPM (P6) and
    PGM (P5, grayscale replicated to RGB) — the r6 decode-matrix
    widening (struct-only Netpbm, no new deps)."""
    from map_reduce_spark.functions.multimodal import encode_pgm, encode_ppm

    rng = np.random.default_rng(13)
    for h, w in [(1, 1), (9, 13), (16, 16), (5, 2)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        got = MediaDecoder.decode_pnm(encode_ppm(px))
        assert got.shape == (h, w, 3)
        assert np.array_equal(got, px)
        gray = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        got_g = MediaDecoder.decode_pnm(encode_pgm(gray))
        assert got_g.shape == (h, w, 3)
        assert np.array_equal(got_g, np.repeat(gray[:, :, None], 3, axis=2))


def test_pnm_header_comments_and_whitespace():
    """Netpbm headers legally carry '#' comments and arbitrary
    whitespace between tokens; the parser must handle both, and pixel
    data must start exactly one byte after maxval (a pixel value of
    0x0A right at the start must NOT be eaten as whitespace)."""
    px = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    px[0, 0, 0] = 0x0A  # newline-valued first sample
    body = px.tobytes()
    payload = b"P6 # comment\n  2\t2 # sizes\n255\n" + body
    assert np.array_equal(MediaDecoder.decode_pnm(payload), px)


def test_pnm_16bit_is_still_a_stub():
    """maxval > 255 (2-byte samples) stays a documented
    NotImplementedError slot."""
    import pytest

    with pytest.raises(NotImplementedError, match="maxval"):
        MediaDecoder.decode_pnm(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")


def test_features_from_decoded_pnm_content():
    """Same decoded-content property as the BMP test: two PPM payloads
    with identical byte LENGTHS but different pixels must produce
    different features, and a PGM of a constant image must yield zero
    channel std."""
    from map_reduce_spark.functions.multimodal import encode_pgm, encode_ppm

    rng = np.random.default_rng(14)
    a = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    b = a.copy()
    b[0, 0] = (b[0, 0] + 128) % 256
    fa = MediaDecoder.features(encode_ppm(a), "image")
    fb = MediaDecoder.features(encode_ppm(b), "image")
    assert len(encode_ppm(a)) == len(encode_ppm(b))
    assert not np.array_equal(fa, fb)
    const = np.full((8, 8), 77, dtype=np.uint8)
    fc = MediaDecoder.features(encode_pgm(const), "image")
    # layout: [log1p(w), log1p(h), aspect, mean(3), std(3), hist(7)]
    assert np.allclose(fc[6:9], 0.0)


def test_wav_roundtrip_exact():
    rng = np.random.default_rng(13)
    s = (rng.standard_normal(500) * 10000).astype(np.int16)
    rate, ch, got = MediaDecoder.decode_wav(encode_wav(s, sample_rate=16000))
    assert (rate, ch) == (16000, 1)
    assert np.array_equal(got, s)


def test_wav_skips_unknown_chunks():
    """RIFF chunk walking must skip unknown chunks (LIST etc.) with
    odd sizes (even-padded) and still find fmt/data."""
    import struct

    s = np.array([1, -2, 3], dtype=np.int16)
    wav = bytearray(encode_wav(s, sample_rate=8000))
    extra = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"  # odd size, padded
    patched = wav[:12] + extra + wav[12:]
    struct.pack_into("<I", patched, 4, len(patched) - 8)
    rate, ch, got = MediaDecoder.decode_wav(bytes(patched))
    assert np.array_equal(got, s)


def test_features_come_from_decoded_content_not_bytes():
    """Two BMPs with identical byte histograms but different pixel
    LAYOUT must featurize differently (kills a bytes-only fake), and
    a brightness change must move the decoded channel means exactly."""
    base = np.zeros((4, 4, 3), dtype=np.uint8)
    bright = base.copy()
    bright[:, :, 0] = 200  # red plane
    dark = base.copy()
    dark[:, :, 2] = 200  # same bytes overall, blue plane instead
    f_bright = MediaDecoder.features(encode_bmp(bright), "image")
    f_dark = MediaDecoder.features(encode_bmp(dark), "image")
    assert not np.array_equal(f_bright, f_dark)
    # channel-mean slots (indices 3,4,5 = R,G,B means pre-normalization)
    # keep their order: red-bright image has R mean > B mean
    assert f_bright[3] > f_bright[5] and f_dark[5] > f_dark[3]


def test_compressed_format_is_still_a_stub():
    # MP3 (unsniffable here -> unknown container) remains the
    # documented libav slot; PNG and baseline JPEG graduated to real
    # stdlib decodes in r7.
    fake_mp3 = b"ID3\x04\x00\x00\x00\x00\x00\x00" + bytes(64)
    with pytest.raises(NotImplementedError, match="media library"):
        MediaDecoder.features(fake_mp3, "audio")


def test_jpeg_features_from_decoded_pixels(spark):
    """A JPEG payload featurizes from its DECODED pixels: features of
    a JPEG and of a BMP of the same image agree closely (JPEG is
    lossy, so near-equality — unlike the exact PNG/BMP pin)."""
    import numpy as np

    from map_reduce_spark.functions.jpeg import encode_jpeg
    from map_reduce_spark.functions.multimodal import encode_bmp

    yy, xx = np.mgrid[0:32, 0:48].astype(np.float64)
    px = np.clip(
        np.stack(
            [128 + 90 * np.sin(xx / 9), 128 + 90 * np.cos(yy / 7), xx * 3 % 256],
            axis=-1,
        ).round(),
        0,
        255,
    ).astype(np.uint8)
    f_jpeg = MediaDecoder.features(encode_jpeg(px, quality=95), "image")
    f_bmp = MediaDecoder.features(encode_bmp(px), "image")
    assert float(np.dot(f_jpeg, f_bmp)) > 0.9999


def test_png_roundtrip_exact():
    """encode_png -> decode_png is bit-exact: the zlib deflate/inflate
    pair plus filter-0 scanlines lose nothing."""
    import numpy as np

    from map_reduce_spark.functions.multimodal import encode_png

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(21, 33, 3), dtype=np.uint8)
    payload = encode_png(px)
    assert MediaDecoder.sniff(payload) == "png"
    assert np.array_equal(MediaDecoder.decode_png(payload), px)
    # gradient image (deflate actually compresses): still exact
    grad = np.stack(
        [np.tile(np.arange(40, dtype=np.uint8), (16, 1))] * 3, axis=2
    )
    assert np.array_equal(MediaDecoder.decode_png(encode_png(grad)), grad)


def test_png_unfilters_all_five_filter_types():
    """A conforming PNG reader must invert every per-row filter an
    encoder may choose. Forward-filter a known image with each type
    (None/Sub/Up/Average/Paeth, one per row, cycling) in the test,
    wrap it in chunks, and require decode_png to reconstruct the
    original — a differential against an independent forward
    implementation, not our own encoder (which only emits type 0)."""
    import struct
    import zlib

    import numpy as np

    from map_reduce_spark.functions.multimodal import _png_chunk

    rng = np.random.default_rng(11)
    h, w, bpp = 10, 13, 3
    px = rng.integers(0, 256, size=(h, w, bpp), dtype=np.uint8)
    flat = px.reshape(h, w * bpp).astype(np.int32)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    for y in range(h):
        ftype = y % 5
        raw.append(ftype)
        prev = flat[y - 1] if y > 0 else np.zeros(w * bpp, np.int32)
        for x in range(w * bpp):
            cur = int(flat[y, x])
            a = int(flat[y, x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if (x >= bpp and y > 0) else 0
            if ftype == 0:
                enc = cur
            elif ftype == 1:
                enc = cur - a
            elif ftype == 2:
                enc = cur - b
            elif ftype == 3:
                enc = cur - ((a + b) >> 1)
            else:
                enc = cur - paeth(a, b, c)
            raw.append(enc & 0xFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(MediaDecoder.decode_png(payload), px)


def test_png_color_type_normalization():
    """Gray (0), gray+alpha (4) and RGBA (6) PNGs normalize to
    (H, W, 3) RGB; 16-bit and palette stay documented stubs."""
    import struct
    import zlib

    import numpy as np

    from map_reduce_spark.functions.multimodal import _png_chunk

    def make(ctype_n, channels, body_px):
        h, w = body_px.shape[:2]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype_n, 0, 0, 0)
        raw = b"".join(b"\x00" + row.tobytes() for row in body_px)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(3)
    gray = rng.integers(0, 256, size=(5, 6, 1), dtype=np.uint8)
    out = MediaDecoder.decode_png(make(0, 1, gray))
    assert np.array_equal(out, np.repeat(gray, 3, axis=2))

    rgba = rng.integers(0, 256, size=(5, 6, 4), dtype=np.uint8)
    out = MediaDecoder.decode_png(make(6, 4, rgba))
    assert np.array_equal(out, rgba[:, :, :3])

    ga = rng.integers(0, 256, size=(5, 6, 2), dtype=np.uint8)
    out = MediaDecoder.decode_png(make(4, 2, ga))
    assert np.array_equal(out, np.repeat(ga[:, :, :1], 3, axis=2))

    # 16-bit depth: documented stub
    ihdr16 = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    p16 = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr16)
        + _png_chunk(b"IDAT", zlib.compress(bytes(4 * (1 + 4 * 6))))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="depth=16"):
        MediaDecoder.decode_png(p16)


def test_png_features_match_equivalent_bmp():
    """The SAME pixels through a PNG and a BMP container yield the
    SAME feature vector — features depend on decoded content only,
    pinning that the PNG path decodes to identical pixels."""
    import numpy as np

    from map_reduce_spark.functions.multimodal import encode_bmp, encode_png

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(24, 31, 3), dtype=np.uint8)
    f_png = MediaDecoder.features(encode_png(px), "image")
    f_bmp = MediaDecoder.features(encode_bmp(px), "image")
    assert np.array_equal(f_png, f_bmp)


def test_resize_bounds_dimensions_and_prunes_payload(spark):
    media = synthetic_media(spark, n=30)
    originals = {r.media_id: r for r in media.filter("kind = 'image'").collect()}
    resized = resize_images(media, max_side=32).collect()
    assert len(resized) == len(originals)
    for r in resized:
        o = originals[r.media_id]
        assert max(r.width, r.height) <= 32
        # aspect handling: never upscale, never exceed original
        assert r.width <= o.width and r.height <= o.height
        assert 0 < len(r.payload) <= len(o.payload)


def test_resize_resamples_real_pixels(spark):
    """The resized payload must be a decodable BMP whose pixels equal
    a nearest-neighbor resample of the decoded original."""
    media = synthetic_media(spark, n=9)
    originals = {r.media_id: bytes(r.payload) for r in media.filter("kind = 'image'").collect()}
    for r in resize_images(media, max_side=16).collect():
        # originals rotate through BMP/PPM/PGM containers; the output
        # container is always BMP
        px = MediaDecoder.decode_image(originals[r.media_id])
        h, w = px.shape[:2]
        yi = (np.arange(r.height) * h // r.height).clip(max=h - 1)
        xi = (np.arange(r.width) * w // r.width).clip(max=w - 1)
        want = px[yi][:, xi]
        got = MediaDecoder.decode_bmp(bytes(r.payload))
        assert np.array_equal(got, want)


def test_frame_sampling_is_bounded_by_rate_not_source(spark):
    media = synthetic_media(spark, n=30)
    videos = {r.media_id: r for r in media.filter("kind = 'video'").collect()}
    frames = sample_frames(media, every_ms=5000).collect()
    by_id: dict[int, list] = {}
    for f in frames:
        by_id.setdefault(f.media_id, []).append(f)
    for mid, fs in by_id.items():
        dur = videos[mid].duration_ms
        expected = max(1, -(-int(dur) // 5000)) if dur else 0
        assert len(fs) == expected  # one frame per sampling tick
        assert all(f.frame_ts_ms < dur for f in fs)
        assert all(len(f.frame_payload) > 0 for f in fs)
    # zero-duration videos yield nothing; all sampled ids are videos
    assert set(by_id) <= set(videos)


def test_png_adam7_interlaced_roundtrip_and_equality():
    """Adam7: the interlaced encoding of an image must decode to
    EXACTLY the same pixels as its sequential encoding — including
    widths/heights that exercise empty and ragged passes (1x1, 1x9,
    9x1, 8x8, 13x21)."""
    import numpy as np

    from map_reduce_spark.functions.multimodal import encode_png

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (1, 9), (9, 1), (8, 8), (13, 21)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        seq = MediaDecoder.decode_png(encode_png(px))
        inter = MediaDecoder.decode_png(encode_png(px, interlace=True))
        assert np.array_equal(seq, px), (h, w)
        assert np.array_equal(inter, px), (h, w)


def test_png_palette_roundtrip_all_depths():
    """Color type 3 at every legal sub-16-bit depth: packed indices ->
    PLTE lookup reproduces palette[idx] exactly."""
    import numpy as np

    from map_reduce_spark.functions.multimodal import encode_png_palette

    rng = np.random.default_rng(13)
    for depth in (1, 2, 4, 8):
        n = 1 << depth
        palette = rng.integers(0, 256, size=(n, 3), dtype=np.uint8)
        idx = rng.integers(0, n, size=(11, 17), dtype=np.uint8)
        payload = encode_png_palette(idx, palette, depth=depth)
        assert MediaDecoder.sniff(payload) == "png"
        assert np.array_equal(MediaDecoder.decode_png(payload), palette[idx]), depth


def test_png_subbyte_gray_scales_to_full_range():
    """1/2/4-bit GRAYSCALE (color type 0): unpacked values scale to
    0..255 (0,85,170,255 at depth 2 etc.), replicated across RGB.
    Hand-build the container — our encoders don't emit sub-byte gray."""
    import struct
    import zlib

    import numpy as np

    from map_reduce_spark.functions.multimodal import _png_chunk

    # depth 2, 5px-wide rows: values 0..3 -> 2 bits each, packed
    # big-endian: row [0,1,2,3,0] -> bits 00 01 10 11 | 00 -> 0x1b, 0x00
    ihdr = struct.pack(">IIBBBBB", 5, 2, 2, 0, 0, 0, 0)
    raw = b"\x00" + bytes([0b00011011, 0b00000000]) + b"\x00" + bytes(
        [0b11100100, 0b01000000]
    )
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    px = MediaDecoder.decode_png(payload)
    expect = np.array(
        [[0, 85, 170, 255, 0], [255, 170, 85, 0, 85]], dtype=np.uint8
    )
    assert np.array_equal(px, np.repeat(expect[:, :, None], 3, axis=2))


def test_png_palette_interlace_compose():
    """Palette + Adam7 together: deinterlace must run on INDEX
    scanlines before the PLTE lookup. Build the interlaced palette
    container by scattering the index grid through the pass order."""
    import struct
    import zlib

    import numpy as np

    from map_reduce_spark.functions.multimodal import _adam7_passes, _png_chunk

    rng = np.random.default_rng(17)
    h, w = 10, 13
    palette = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 1)
    raw = b"".join(
        b"\x00" + row.tobytes()
        for x0, y0, dx, dy in _adam7_passes(w, h)
        for row in idx[y0::dy, x0::dx]
    )
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", palette.tobytes())
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(MediaDecoder.decode_png(payload), palette[idx])


def test_png_16bit_is_still_a_stub():
    import struct
    import zlib

    from map_reduce_spark.functions.multimodal import _png_chunk

    ihdr = struct.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" + bytes(12)))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="depth=16"):
        MediaDecoder.decode_png(payload)


def test_synthetic_corpus_rotates_compressed_containers(spark):
    """The media corpus now carries sequential, interlaced, and
    palette PNGs, both JPEG sampling modes, and sequential +
    interlaced GIFs alongside BMP/PPM/PGM — and every image row still
    decodes (feature extraction drops nothing but video)."""
    from map_reduce_spark.functions.multimodal import (
        extract_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=60)
    img = media.filter("kind = 'image'")
    payloads = [bytes(r.payload) for r in img.collect()]
    # 20 image rows cycle through all ten containers twice
    assert len(payloads) == 20
    n_png = sum(p.startswith(b"\x89PNG\r\n\x1a\n") for p in payloads)
    n_jpeg = sum(p.startswith(b"\xff\xd8\xff") for p in payloads)
    n_gif = sum(p.startswith(b"GIF89a") for p in payloads)
    assert n_png == 6  # png + png_i + png_pal, two cycles
    assert n_jpeg == 4  # jpeg(444) + jpeg420+restarts, two cycles
    assert n_gif == 4  # gif + gif_i, two cycles
    feats = extract_features(media)
    assert feats.filter("kind = 'image'").count() == 20


# --- r11: MJPEG-in-AVI video decode ----------------------------------


def _gradient_frames(n, w=16, h=8, step=24):
    """Frames with distinct, JPEG-stable content: frame t is a solid
    block of luminance t*step (solid blocks survive quantization
    almost exactly, so decoded means identify WHICH frame was
    sampled)."""
    return [
        np.full((h, w, 3), min(255, t * step), dtype=np.uint8) for t in range(n)
    ]


def test_avi_mjpeg_roundtrip():
    from map_reduce_spark.functions.jpeg import decode_jpeg
    from map_reduce_spark.functions.multimodal import encode_avi_mjpeg

    frames = _gradient_frames(7)
    payload = encode_avi_mjpeg(frames, fps=3)
    assert MediaDecoder.sniff(payload) == "avi"
    fps, jpegs = MediaDecoder.decode_avi_mjpeg(payload)
    assert fps == 3 and len(jpegs) == 7
    for src, j in zip(frames, jpegs):
        dec = decode_jpeg(j)
        assert dec.shape == src.shape
        assert float(np.mean((dec.astype(float) - src.astype(float)) ** 2)) < 9.0


def test_avi_encoder_does_not_advertise_missing_index():
    """dwFlags must be 0: no idx1 chunk is written, so AVIF_HASINDEX
    (0x10) would point strict readers at a nonexistent index
    (ADVICE r11)."""
    import struct

    from map_reduce_spark.functions.multimodal import encode_avi_mjpeg

    payload = encode_avi_mjpeg(_gradient_frames(2), fps=2)
    assert b"idx1" not in payload
    body = payload.find(b"avih") + 8
    flags = struct.unpack_from("<I", payload, body + 12)[0]
    assert flags & 0x10 == 0


def test_avi_multistream_decode_binds_strf_and_frames_to_vids_stream():
    """An AVI with an audio strl FIRST (stream 00: 'auds' strh + an
    18-byte-padded-to-20 WAVEFORMATEX strf) and the video as stream
    01 must decode fps/compression from the VIDS strl only and return
    only the '01dc' frame chunks — not mix in '00wb' audio blobs or
    misread the audio strf as biCompression (ADVICE r11)."""
    import struct

    from map_reduce_spark.functions.jpeg import decode_jpeg, encode_jpeg

    frames = _gradient_frames(3)
    jpegs = [encode_jpeg(f, quality=85) for f in frames]

    def chunk(fourcc, body):
        return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    auds_strh = struct.pack(
        "<4s4sIHH8I4h", b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0,
        1, 8000, 0, 8000, 16000, 0, 1, 0, 0, 0, 0,
    )
    # 20-byte audio strf: would alias biCompression at offset 16 if
    # the decoder ignored stream structure
    auds_strf = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16) + b"\x00" * 4
    vids_strh = struct.pack(
        "<4s4sIHH8I4h", b"vids", b"MJPG", 0, 0, 0, 0,
        1, 5, 0, len(jpegs), max(len(j) for j in jpegs), 0xFFFF, 0, 0, 0, 16, 8,
    )
    vids_strf = struct.pack("<Iii2H4sIiiII", 40, 16, 8, 1, 24, b"MJPG", 16 * 8 * 3, 0, 0, 0, 0)
    avih = struct.pack("<14I", 200_000, 0, 0, 0, len(jpegs), 0, 2, 0, 16, 8, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", auds_strh) + chunk(b"strf", auds_strf))
        + lst(b"strl", chunk(b"strh", vids_strh) + chunk(b"strf", vids_strf)),
    )
    movi_body = b""
    for j in jpegs:
        movi_body += chunk(b"00wb", b"\x00\x01" * 100)  # interleaved audio
        movi_body += chunk(b"01dc", j)
    body = b"AVI " + hdrl + lst(b"movi", movi_body)
    payload = b"RIFF" + struct.pack("<I", len(body)) + body

    fps, got = MediaDecoder.decode_avi_mjpeg(payload)
    assert fps == 5 and len(got) == 3
    for src, j in zip(frames, got):
        assert decode_jpeg(j).shape == src.shape


def test_non_mjpeg_avi_is_the_documented_boundary():
    """An AVI whose video stream is not MJPG (MP4/H.264 territory)
    must raise, not silently byte-slice."""
    from map_reduce_spark.functions.multimodal import encode_avi_mjpeg

    payload = bytearray(encode_avi_mjpeg(_gradient_frames(2), fps=2))
    i = payload.find(b"MJPG", payload.find(b"strf"))  # strf biCompression
    payload[i : i + 4] = b"XVID"
    with pytest.raises(NotImplementedError, match="XVID"):
        MediaDecoder.decode_avi_mjpeg(bytes(payload))


def test_sample_frames_decodes_real_avi_content(spark):
    """The sampler must (a) emit the exact JPEG chunk of the scheduled
    frame index per the container's OWN fps, (b) decode only-sampled
    frames to real dimensions, and (c) produce pixel content
    identifying the RIGHT frame (solid-block luminance ladder)."""
    from map_reduce_spark.functions.jpeg import decode_jpeg
    from map_reduce_spark.functions.multimodal import MEDIA_SCHEMA, encode_avi_mjpeg

    fps, dur_ms, step = 2, 9000, 24
    frames = _gradient_frames(fps * dur_ms // 1000, step=step)  # 18 frames
    payload = encode_avi_mjpeg(frames, fps=fps)
    media = spark.createDataFrame(
        [(0, "video", bytearray(payload), 16, 8, dur_ms)], MEDIA_SCHEMA
    )
    got = {r.frame_ts_ms: r for r in sample_frames(media, every_ms=4000).collect()}
    assert sorted(got) == [0, 4000, 8000]
    _, jpegs = MediaDecoder.decode_avi_mjpeg(payload)
    for ts, r in got.items():
        fi = ts * fps // 1000
        assert r.frame_idx == fi
        assert bytes(r.frame_payload) == jpegs[fi]  # exact chunk
        assert (r.frame_w, r.frame_h) == (16, 8)
        dec = decode_jpeg(bytes(r.frame_payload))
        assert abs(float(dec.mean()) - min(255, fi * step)) < 3.0  # right frame


def test_sample_frames_opaque_container_keeps_standin(spark):
    """Non-AVI video payloads keep the byte-slice stand-in: schedule
    invariants intact, no decoded dimensions."""
    from map_reduce_spark.functions.multimodal import MEDIA_SCHEMA

    blob = bytes(range(256)) * 4
    media = spark.createDataFrame(
        [(1, "video", bytearray(blob), None, None, 12000)], MEDIA_SCHEMA
    )
    rows = sample_frames(media, every_ms=5000).collect()
    assert [r.frame_ts_ms for r in rows] == [0, 5000, 10000]
    assert all(r.frame_w is None and r.frame_h is None for r in rows)
    assert all(len(r.frame_payload) > 0 for r in rows)


def test_media_sample_frames_entry_decode_evidence(spark):
    """Registered entry: every MJPEG-AVI video row decode_ok AND
    schedule_ok; opaque rows decode exactly zero frames and stay
    schedule_ok — and both populations are present (the fixture must
    exercise both paths)."""
    from map_reduce_spark.registry import load_all

    rows = load_all()["media_sample_frames"].builder(spark, "unused").collect()
    assert rows
    assert all(r.schedule_ok and r.decode_ok for r in rows), rows
    assert any(r.n_decoded > 0 for r in rows)  # real AVI decodes
    assert any(r.n_decoded == 0 for r in rows)  # boundary stand-ins
