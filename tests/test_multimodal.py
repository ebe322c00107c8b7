"""Multimodal tests: the Spark-side machinery (schema, Arrow batches,
metadata pruning) plus the REAL pure-Python BMP and WAV codecs —
features must come from decoded pixels/samples, not synthesized from
payload bytes. Every other container (compressed stills, MP3, all
video) stays the documented NotImplementedError boundary; video is
sampled as opaque bytes."""

from __future__ import annotations

import numpy as np
import pytest

from map_reduce_spark.functions.multimodal import (
    FEATURE_DIM,
    MediaDecoder,
    encode_bmp,
    encode_wav,
    extract_features,
    resize_nearest,
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
    # a constant image has zero decoded channel std
    # layout: [log1p(w), log1p(h), aspect, mean(3), std(3), hist(7)]
    f_const = MediaDecoder.features(encode_bmp(np.full((8, 8, 3), 77, np.uint8)), "image")
    assert np.allclose(f_const[6:9], 0.0)


def test_compressed_format_is_still_a_stub():
    # MP3 and PNG (unsniffable here -> unknown container) remain the
    # documented libav/PIL slots.
    fake_mp3 = b"ID3\x04\x00\x00\x00\x00\x00\x00" + bytes(64)
    with pytest.raises(NotImplementedError, match="media library"):
        MediaDecoder.features(fake_mp3, "audio")
    fake_png = b"\x89PNG\r\n\x1a\n" + bytes(64)
    with pytest.raises(NotImplementedError, match="media library"):
        MediaDecoder.features(fake_png, "image")
    with pytest.raises(NotImplementedError, match="media library"):
        MediaDecoder.decode_image(fake_png)


def test_resize_bounds_dimensions_and_prunes_payload(spark):
    """The registered resize entry: one row per image, the longer side
    at most 32, never upscaled, decoded output dimensions equal to the
    reported ones, and the re-encoded BMP is the helper's resample of
    the original and no larger than it."""
    from map_reduce_spark.registry import load_all

    media = synthetic_media(spark, n=96)
    originals = {r.media_id: r for r in media.filter("kind = 'image'").collect()}
    rows = load_all()["media_resize_images"].builder(spark, "unused").collect()
    assert sorted(r.media_id for r in rows) == sorted(originals)
    for r in rows:
        o = originals[r.media_id]
        assert r.bounds_ok
        assert max(r.width, r.height) <= 32
        assert (r.decoded_width, r.decoded_height) == (r.width, r.height)
        # aspect handling: never upscale, never exceed original
        assert r.width <= o.width and r.height <= o.height
        want = resize_nearest(MediaDecoder.decode_bmp(bytes(o.payload)), 32)
        assert want.shape[:2] == (r.height, r.width)
        assert r.n_bytes == len(encode_bmp(want))
        assert 0 < r.n_bytes <= len(o.payload)


def test_resize_resamples_real_pixels():
    """resize_nearest takes output pixel (y, x) from source pixel
    (y * h // nh, x * w // nw), bounds the longer side, never
    upscales, and its output round-trips through BMP."""
    px = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    assert np.array_equal(resize_nearest(px, 3), px[[0, 2]][:, [0, 2, 4]])
    rng = np.random.default_rng(21)
    for h, w, side in [(5, 7, 4), (64, 95, 32), (1, 9, 2), (9, 1, 2)]:
        src = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        got = resize_nearest(src, side)
        nh, nw = got.shape[:2]
        assert max(nh, nw) <= side and nh <= h and nw <= w
        for y in range(nh):
            for x in range(nw):
                assert np.array_equal(got[y, x], src[y * h // nh, x * w // nw])
        assert np.array_equal(MediaDecoder.decode_bmp(encode_bmp(got)), got)
    assert np.array_equal(resize_nearest(px, 32), px)  # no upscale


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


def test_synthetic_corpus_rotates_compressed_containers(spark):
    """The media corpus rotates image/audio/video by media_id % 3:
    every image payload is a BMP, every audio payload a WAV, every
    video payload opaque (sniffs as no container) — and feature
    extraction keeps every image row."""
    media = synthetic_media(spark, n=60)
    rows = media.collect()
    assert sorted(r.media_id for r in rows) == list(range(60))
    want = {"image": "bmp", "audio": "wav", "video": None}
    for r in rows:
        assert r.kind == ["image", "audio", "video"][r.media_id % 3]
        assert MediaDecoder.sniff(bytes(r.payload)) == want[r.kind]
    feats = extract_features(media)
    assert feats.filter("kind = 'image'").count() == 20


def test_sample_frames_opaque_container_keeps_standin(spark):
    """Opaque video payloads keep the byte-slice stand-in: schedule
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
    """Registered entry: one row per video (all 32 have a positive
    duration), each schedule_ok and decode_ok with zero decoded
    frames — every video payload is opaque."""
    from map_reduce_spark.registry import load_all

    rows = load_all()["media_sample_frames"].builder(spark, "unused").collect()
    assert len(rows) == 32
    assert all(r.schedule_ok and r.decode_ok and r.n_decoded == 0 for r in rows), rows
