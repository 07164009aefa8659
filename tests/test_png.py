"""Dependency-free PNG/WAV codecs (multimodal/png.py, multimodal/wav.py)
and the real decode paths they unlock (pixel_stats, extract_pixel_features,
real resize, audio_stats)."""

from __future__ import annotations

import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from simsearch_spark.multimodal.png import _chunk, decode_png, encode_png


def _pixels(w: int, h: int, ch: int, seed: int = 7) -> bytes:
    return bytes((seed + i * 31 + (i % ch) * 17) % 256 for i in range(w * h * ch))


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_round_trip_every_channel_and_filter(channels, filter_type):
    w, h = 13, 5
    pix = _pixels(w, h, channels)
    data = encode_png(w, h, channels, pix, filter_types=filter_type)
    assert decode_png(data) == (w, h, channels, pix)


def test_round_trip_mixed_filters_per_row():
    w, h, ch = 9, 10, 3
    pix = _pixels(w, h, ch)
    data = encode_png(w, h, ch, pix, filter_types=[r % 5 for r in range(h)])
    assert decode_png(data) == (w, h, ch, pix)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 20),
    h=st.integers(1, 12),
    ch=st.sampled_from([1, 3, 4]),
    ft=st.integers(0, 4),
    seed=st.integers(0, 1000),
)
def test_round_trip_property(w, h, ch, ft, seed):
    pix = _pixels(w, h, ch, seed)
    assert decode_png(encode_png(w, h, ch, pix, filter_types=ft)) == (w, h, ch, pix)


def test_palette_expansion():
    # 2x2 palette image: indices 0..3 -> distinct RGB entries
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raw = bytes([0, 0, 1, 0, 2, 3])  # two scanlines, filter 0
    data = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", plte)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    w, h, ch, pix = decode_png(data)
    assert (w, h, ch) == (2, 2, 3)
    assert pix == bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9])


def test_explicit_failures():
    with pytest.raises(ValueError):
        decode_png(b"GIF89a not a png")
    # header-only payload (the old fixture shape) must fail loudly, not
    # return fake pixels
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    header_only = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    with pytest.raises(ValueError, match="IDAT"):
        decode_png(header_only)
    # r11: every LEGAL depth (1/2/4/8/16) decodes; an illegal depth is a
    # malformed file, and sub-byte RGB is spec-invalid
    deep = b"\x89PNG\r\n\x1a\n" + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 3, 0, 0, 0, 0)
    )
    with pytest.raises(ValueError, match="bit depth 3"):
        decode_png(deep)
    # r11: Adam7 is implemented — a header-only interlaced file now fails
    # on the missing IDAT like any other, and an unknown interlace method
    # is malformed
    laced = b"\x89PNG\r\n\x1a\n" + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    )
    with pytest.raises(ValueError, match="IDAT"):
        decode_png(laced)
    bad_method = b"\x89PNG\r\n\x1a\n" + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 2)
    )
    with pytest.raises(ValueError, match="interlace method"):
        decode_png(bad_method)


def test_adam7_interlace_roundtrips():
    """Adam7 (RFC 2083 §2.6): seven independently-filtered passes, empty
    passes absent from the stream — round-trips byte-identically across
    every geometry class (sub-8 widths/heights hit empty passes) and all
    five filters; palette images interlace too."""
    import random

    from simsearch_spark.multimodal.png import decode_png, encode_png

    rng = random.Random(47)
    for w, h in [(1, 1), (7, 1), (1, 9), (8, 8), (9, 10), (17, 5), (33, 21)]:
        for ch in (1, 2, 3, 4):
            px = bytes(rng.randrange(256) for _ in range(w * h * ch))
            for ft in (0, 1, 2, 3, 4):
                g = encode_png(w, h, ch, px, filter_types=ft, interlace=True)
                assert decode_png(g) == (w, h, ch, px), (w, h, ch, ft)
    # interlaced stream length mismatches are malformed, not crashes
    g = bytearray(encode_png(4, 4, 1, bytes(16), interlace=True))
    from simsearch_spark.multimodal.png import _chunk as _c  # rebuild w/ short IDAT
    import struct as _s
    import zlib as _z

    short = (
        b"\x89PNG\r\n\x1a\n"
        + _c(b"IHDR", _s.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1))
        + _c(b"IDAT", _z.compress(b"\x00\x00"))
        + _c(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="Adam7"):
        decode_png(short)


# ---------------------------------------------------------------------------
# Spark paths
# ---------------------------------------------------------------------------


def _media_df(spark, rows):
    return spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, mime string"
    )


def test_pixel_stats_real_means(spark):
    from simsearch_spark.multimodal.binary import pixel_stats

    # gray 4x2: left half 10, right half 250 -> mean (10*2+250*2)/4 = 130
    gray = bytes([10, 10, 250, 250] * 2)
    good = encode_png(4, 2, 1, gray, filter_types=2)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    header_only = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    out = {
        r.media_id: r
        for r in pixel_stats(
            _media_df(
                spark,
                [(1, "image", good, "image/png"), (2, "image", header_only, "image/png")],
            )
        ).collect()
    }
    assert out[1].decoded == "ok"
    assert (out[1].width, out[1].height, out[1].channels) == (4, 2, 1)
    assert out[1].mean_c0 == 130.0 and out[1].mean_c1 is None
    assert "IDAT" in out[2].decoded and out[2].width == -1


def test_extract_pixel_features_constant_image(spark):
    from simsearch_spark.multimodal.binary import FEATURE_DIM, extract_pixel_features

    rgb = bytes([102, 102, 102]) * (8 * 8)
    good = encode_png(8, 8, 3, rgb)
    out = {
        r.media_id: r.embedding
        for r in extract_pixel_features(
            _media_df(
                spark,
                [(1, "image", good, "image/png"), (2, "image", b"\xff\xd8junk", "image/jpeg")],
            )
        ).collect()
    }
    assert out[1] == pytest.approx([102 / 255.0] * FEATURE_DIM, abs=1e-5)
    # r9: non-decodable payload → NULL embedding (valid_embeddings gates it
    # downstream), not the retired byte-histogram sketch
    assert out[2] is None


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=200))
def test_decode_png_never_raises_low_level_errors(data):
    """Arbitrary bytes (optionally signature-prefixed) must produce a result
    or a contracted exception — never zlib.error/struct.error/IndexError,
    which would escape pixel_stats' catch and kill the Spark task."""
    for payload in (data, b"\x89PNG\r\n\x1a\n" + data):
        try:
            decode_png(payload)
        except (ValueError, NotImplementedError):
            pass


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=200))
def test_decode_wav_never_raises_low_level_errors(data):
    from simsearch_spark.multimodal.wav import decode_wav

    for payload in (data, b"RIFF\x00\x00\x00\x00WAVE" + data):
        try:
            decode_wav(payload)
        except (ValueError, NotImplementedError):
            pass


@settings(max_examples=40, deadline=None)
@given(flip=st.integers(8, 80), byte=st.integers(0, 255))
def test_decode_png_mutated_valid_payload(flip, byte):
    """Single-byte corruption of a valid PNG: decode must return pixels or
    raise a contracted error, never hang or leak a low-level exception."""
    base = bytearray(encode_png(5, 4, 3, _pixels(5, 4, 3), filter_types=4))
    if flip >= len(base):
        flip %= len(base)
    base[flip] = byte
    try:
        decode_png(bytes(base))
    except (ValueError, NotImplementedError):
        pass


def test_wav_round_trip_and_failures():
    from simsearch_spark.multimodal.wav import decode_wav, encode_wav

    samples = [100, -200, 300, -400, 0, 32767, -32768]
    rate, ch, got = decode_wav(encode_wav(samples, 16000, channels=1))
    assert (rate, ch, got) == (16000, 1, samples)
    stereo = decode_wav(encode_wav(samples[:6], 44100, channels=2))
    assert stereo == (44100, 2, samples[:6])
    with pytest.raises(ValueError):
        decode_wav(b"OggS not a wav")
    # an unimplemented format tag must be an explicit seam, not garbage
    # samples (tag 3 / IEEE float decodes for real since r12, so the
    # seam example is now 0x55 / MPEG Layer-3)
    bad = bytearray(encode_wav([1, 2], 8000))
    bad[20] = 0x55
    with pytest.raises(NotImplementedError, match="format tag"):
        decode_wav(bytes(bad))
    # tag 3 with a non-float width is malformed, not silently decoded
    with pytest.raises(ValueError, match="float WAV"):
        bad[20] = 3
        decode_wav(bytes(bad))


def test_audio_stats_square_wave(spark):
    from simsearch_spark.multimodal.binary import audio_stats
    from simsearch_spark.multimodal.wav import encode_wav

    amp, half, cycles, rate = 5000, 3, 4, 8000
    wave = ([amp] * half + [-amp] * half) * cycles
    rows = {
        r.media_id: r
        for r in audio_stats(
            _media_df(
                spark,
                [(1, "audio", encode_wav(wave, rate), "audio/wav"),
                 (2, "audio", b"\x00\x01junk", "audio/wav")],
            )
        ).collect()
    }
    ok = rows[1]
    assert ok.decoded == "ok"
    assert (ok.sample_rate, ok.channels, ok.n_samples) == (rate, 1, 2 * half * cycles)
    assert ok.rms == float(amp)  # square wave RMS == amplitude, exactly
    assert ok.zero_crossings == 2 * cycles - 1
    assert ok.duration_s == round(len(wave) / rate, 6)
    assert rows[2].decoded != "ok" and rows[2].n_samples == -1


def test_avi_round_trip_frame_index():
    from simsearch_spark.multimodal.avi import encode_avi_mjpeg, parse_avi_frames

    frames = [bytes([i]) * (i + 3) for i in range(7)]  # odd+even sizes
    payload = encode_avi_mjpeg(frames, fps=30)
    fps, idx = parse_avi_frames(payload)
    assert fps == pytest.approx(30.0, abs=0.01)
    assert [payload[o : o + n] for o, n in idx] == frames
    with pytest.raises(ValueError):
        parse_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=200))
def test_parse_avi_never_raises_low_level_errors(data):
    from simsearch_spark.multimodal.avi import parse_avi_frames

    for payload in (data, b"RIFF" + struct.pack("<I", len(data) + 4) + b"AVI " + data):
        try:
            parse_avi_frames(payload)
        except (ValueError, NotImplementedError):
            pass


def test_frame_sample_real_avi(spark):
    from simsearch_spark.multimodal.avi import encode_avi_mjpeg
    from simsearch_spark.multimodal.binary import frame_sample

    frames = [bytes([i, i, i]) for i in range(9)]
    rows = frame_sample(
        _media_df(
            spark,
            [(1, "video", encode_avi_mjpeg(frames, fps=25), "video/avi"),
             (2, "video", b"nonsense", "video/avi")],
        ),
        every_n=4,
    ).collect()
    ok = sorted((r.frame_idx, bytes(r.frame)) for r in rows if r.media_id == 1)
    assert ok == [(0, frames[0]), (4, frames[4]), (8, frames[8])]
    assert all(r.n_frames == 9 and r.fps == 25.0 for r in rows if r.media_id == 1)
    bad = [r for r in rows if r.media_id == 2]
    assert len(bad) == 1 and bad[0].decoded != "ok" and bad[0].frame is None


def test_resize_real_png_payload(spark):
    from simsearch_spark.multimodal.binary import resize_images

    big = encode_png(640, 480, 3, bytes([7, 8, 9]) * (640 * 480))
    ihdr = struct.pack(">IIBBBBB", 2000, 1000, 8, 2, 0, 0, 0)
    header_only = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    out = {
        r.media_id: r
        for r in resize_images(
            _media_df(
                spark,
                [(1, "image", big, "image/png"), (2, "image", header_only, "image/png")],
            ),
            max_w=512,
            max_h=512,
        ).collect()
    }
    assert out[1].resized == "resized"
    w, h, ch, pix = decode_png(bytes(out[1].payload))
    assert (w, h, ch) == (out[1].dst_width, out[1].dst_height, 3) == (512, 384, 3)
    assert pix == bytes([7, 8, 9]) * (512 * 384)  # constant image survives NN
    assert out[2].resized == "stub"  # geometry computed, no pixels to move
    assert (out[2].dst_width, out[2].dst_height) == (512, 256)


def test_decode_wav_degenerate_fmt_is_valueerror(spark):
    """A parseable fmt chunk declaring sample_rate=0 or channels=0 must be a
    normal decode failure (bounded-exception contract) — previously it
    crashed audio_stats' duration math with ZeroDivisionError (ADVICE r6)."""
    from simsearch_spark.multimodal.binary import audio_stats
    from simsearch_spark.multimodal.wav import decode_wav, encode_wav

    zero_rate = bytearray(encode_wav([1, 2, 3], 8000))
    zero_rate[24:28] = (0).to_bytes(4, "little")  # sample_rate = 0
    zero_ch = bytearray(encode_wav([1, 2, 3], 8000))
    zero_ch[22:24] = (0).to_bytes(2, "little")  # channels = 0
    for bad in (bytes(zero_rate), bytes(zero_ch)):
        with pytest.raises(ValueError, match="degenerate fmt"):
            decode_wav(bad)
    # and through the operator: a failure-reason row, not a task crash
    df = spark.createDataFrame(
        [(1, bytes(zero_rate)), (2, bytes(zero_ch))], "media_id long, payload binary"
    )
    rows = {r["media_id"]: r["decoded"] for r in audio_stats(df).collect()}
    assert all("degenerate fmt" in rows[i] for i in (1, 2))


def test_pixel_features_gray_alpha_ignores_alpha(spark):
    """2-channel gray+alpha features must equal the pure-gray image's —
    the alpha plane is not luminance (ADVICE r6)."""
    from simsearch_spark.multimodal.binary import extract_pixel_features
    from simsearch_spark.multimodal.png import encode_png

    w = h = 8
    gray = bytes([(x * 31 + y * 7) % 256 for y in range(h) for x in range(w)])
    ga = bytes(
        b for y in range(h) for x in range(w)
        for b in (gray[y * w + x], (x * 201 + y * 13) % 256)  # noisy alpha
    )
    df = spark.createDataFrame(
        [(1, encode_png(w, h, 1, gray)), (2, encode_png(w, h, 2, ga))],
        "media_id long, payload binary",
    )
    feats = {r["media_id"]: list(r["embedding"]) for r in extract_pixel_features(df).collect()}
    assert feats[1] == feats[2]


def test_frame_pixel_stats_zero_frame_avi(spark):
    """An AVI that parses but indexes ZERO frames must still appear in the
    output as one bounded status row, not vanish (ADVICE r7)."""
    from simsearch_spark.multimodal.avi import encode_avi_mjpeg
    from simsearch_spark.multimodal.binary import frame_pixel_stats

    rows = frame_pixel_stats(
        _media_df(spark, [(1, "video", encode_avi_mjpeg([], fps=25), "video/avi")]),
        every_n=1,
    ).collect()
    assert len(rows) == 1
    assert rows[0].media_id == 1
    assert rows[0].decoded == "no frames"
    assert rows[0].n_frames == 0


def _image_dedup_media(spark, n_groups=20, with_jpeg=False):
    from simsearch_spark.multimodal.jpeg import encode_jpeg
    from simsearch_spark.multimodal.png import encode_png
    from simsearch_spark.queries.media import _img_pixels

    rows = []
    for doc in range(n_groups * 3):
        px, ft = _img_pixels(doc)
        rows.append((doc, "image", encode_png(4, 4, 1, px, filter_types=ft), "image/png"))
    if with_jpeg:
        for grp in range(n_groups):
            px, _ = _img_pixels(grp * 3)
            rows.append((1000 + grp, "image", encode_jpeg(4, 4, 1, px), "image/jpeg"))
    return spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, mime string"
    )


def test_media_image_dedup_planted_recall(spark):
    """End-to-end image near-dup dedup over PLANTED ground truth: each group
    of 3 docs shares base pixels (original / different-PNG-filter re-encode /
    +5 brightness shift) plus a cross-CODEC JPEG re-encode of the base.
    Every planted pair must be recovered; no PNG cross-group pair may
    appear (measured cross-group cosine max ~0.985 < threshold 0.99)."""
    from simsearch_spark.multimodal.binary import extract_pixel_features
    from simsearch_spark.operators.dedup import embedding_cosine_pairs
    from simsearch_spark.queries.media import IMG_DEDUP_T

    media = _image_dedup_media(spark, with_jpeg=True)
    feats = extract_pixel_features(media)
    pairs = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_cosine_pairs(
            feats, "media_id", "embedding", IMG_DEDUP_T
        ).collect()
    }
    for grp in range(20):
        a, b, c, j = grp * 3, grp * 3 + 1, grp * 3 + 2, 1000 + grp
        assert pairs.get((a, b)) == 1.0, "filter re-encode must be an exact feature dup"
        assert pairs.get((a, c), 0.0) >= IMG_DEDUP_T, "+5 shift missed"
        assert pairs.get((b, c), 0.0) >= IMG_DEDUP_T
        assert pairs.get((a, j), 0.0) >= IMG_DEDUP_T, "cross-codec JPEG re-encode missed"
    for x, y in pairs:
        if x < 1000 and y < 1000:
            assert x // 3 == y // 3, f"cross-group false positive ({x},{y})"


def test_media_shot_boundaries_planted_structure(spark, sf_dir):
    """Every planted shot boundary (frame_idx divisible by 3) is detected
    and nothing else: intra-shot drift is 1, inter-shot jumps ≥ 88."""
    from simsearch_spark.queries.media import q_media_shot_boundaries

    rows = q_media_shot_boundaries(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.frame_idx == 0:
            assert r.delta is None and r.is_boundary is None
        elif r.frame_idx % 3 == 0:
            assert r.is_boundary and r.delta >= 88.0
        else:
            assert not r.is_boundary and r.delta == 1.0


def test_audio_spectral_sine_and_junk(spark):
    """A pure sine with exactly c cycles must put the dominant bin at c
    with zero leakage; junk payloads get a bounded failure row."""
    import math

    from simsearch_spark.multimodal.binary import audio_spectral
    from simsearch_spark.multimodal.wav import encode_wav

    n, c, rate = 64, 5, 8000
    wave = [int(round(10000 * math.sin(2 * math.pi * c * i / n))) for i in range(n)]
    rows = {
        r.media_id: r
        for r in audio_spectral(
            _media_df(
                spark,
                [(1, "audio", encode_wav(wave, rate), "audio/wav"),
                 (2, "audio", b"not a wav", "audio/wav")],
            )
        ).collect()
    }
    ok = rows[1]
    assert ok.decoded == "ok" and ok.n_samples == n
    assert ok.dominant_bin == c
    assert ok.dominant_hz == round(c * rate / n, 6)
    assert rows[2].decoded != "ok" and rows[2].dominant_bin == -1


def test_media_image_dedup_cluster_apply(spark):
    """The pairs compose with the generic dedup tail: connected components
    over the planted triangles recover exactly the 3-member groups, and
    keep-lowest leaves one survivor per group — the keep/drop step a
    multimodal pipeline runs after pair generation."""
    from simsearch_spark.multimodal.binary import extract_pixel_features
    from simsearch_spark.operators.dedup import connected_components, embedding_cosine_pairs
    from simsearch_spark.queries.media import IMG_DEDUP_T

    feats = extract_pixel_features(_image_dedup_media(spark)).persist()
    pairs = embedding_cosine_pairs(feats, "media_id", "embedding", IMG_DEDUP_T)
    comp = connected_components(pairs, "id_a", "id_b")
    groups = {}
    for r in comp.collect():
        groups.setdefault(r.component, set()).add(r.id)
    assert len(groups) == 20
    for root, members in groups.items():
        grp = root // 3
        assert members == {grp * 3, grp * 3 + 1, grp * 3 + 2}
        assert root == min(members)


def test_media_image_dedup_scale_invariant_member(spark):
    """A 2x-upscaled re-encode (each pixel duplicated into a 2x2 block) has
    the IDENTICAL grid-luminance embedding — the grid normalizes geometry —
    so resized variants are exact feature dups, completing the planted-dup
    taxonomy (re-encode / brightness / cross-codec / cross-geometry)."""
    from simsearch_spark.multimodal.binary import extract_pixel_features
    from simsearch_spark.multimodal.png import encode_png
    from simsearch_spark.queries.media import _img_pixels

    rows = []
    for grp in range(8):
        px, _ = _img_pixels(grp * 3)
        rows.append((grp * 2, "image", encode_png(4, 4, 1, px, filter_types=0), "image/png"))
        up = bytearray()
        for y in range(4):
            row = bytes(px[y * 4 + (x // 2)] for x in range(8))
            up += row + row
        rows.append((grp * 2 + 1, "image", encode_png(8, 8, 1, bytes(up)), "image/png"))
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, mime string"
    )
    embs = {r.media_id: r.embedding for r in extract_pixel_features(media).collect()}
    for grp in range(8):
        assert embs[grp * 2] == embs[grp * 2 + 1]


def test_avi_raw_dib_roundtrip_nonuniform():
    """encode_avi_raw stores bottom-up BGR with 4-byte stride; decode must
    invert all three — verified with a non-uniform, non-square frame whose
    width forces stride padding (w=5 → 15 B rows padded to 16)."""
    from simsearch_spark.multimodal.avi import (
        decode_dib_frame,
        encode_avi_raw,
        parse_avi_frames,
        parse_avi_video_format,
    )

    w, h = 5, 3
    frame = bytes((y * 50 + x * 10 + c) % 256 for y in range(h) for x in range(w) for c in range(3))
    avi = encode_avi_raw([frame, frame[::-1]], w, h, fps=10)
    comp, fw, fh, bits, handler = parse_avi_video_format(avi)
    assert (comp, fw, fh, bits, handler) == (0, w, h, 24, b"DIB ")
    fps, frames = parse_avi_frames(avi)
    assert fps == 10.0 and len(frames) == 2
    for i, original in enumerate([frame, frame[::-1]]):
        off, ln = frames[i]
        assert decode_dib_frame(avi[off : off + ln], w, h) == original


def test_frame_pixel_stats_mixed_codecs(spark):
    """One MJPEG AVI, one raw-DIB AVI, one AVI declaring an unsupported
    codec: the first two decode for real, the third yields per-frame
    failure rows NAMING the fourcc."""
    import struct as _struct

    from simsearch_spark.multimodal.avi import encode_avi_mjpeg, encode_avi_raw
    from simsearch_spark.multimodal.binary import frame_pixel_stats
    from simsearch_spark.multimodal.jpeg import encode_jpeg

    w, h = 8, 4
    mj = encode_avi_mjpeg([encode_jpeg(w, h, 1, bytes([77]) * (w * h), quality=85)])
    raw = encode_avi_raw([bytes([10, 20, 30]) * (w * h)], w, h)
    h264 = bytearray(encode_avi_raw([bytes([1, 2, 3]) * (w * h)], w, h))
    pos = h264.index(b"strf")
    h264[pos + 8 + 16 : pos + 8 + 20] = b"H264"  # overwrite biCompression
    df = spark.createDataFrame(
        [(1, bytearray(mj)), (2, bytearray(raw)), (3, bytearray(bytes(h264)))],
        "media_id long, payload binary",
    )
    rows = {r.media_id: r for r in frame_pixel_stats(df, every_n=1).collect()}
    assert rows[1].decoded == "ok" and rows[1].channels == 1 and rows[1].mean_c0 == 77.0
    assert rows[2].decoded == "ok" and rows[2].channels == 3 and rows[2].mean_c0 == 10.0
    assert "H264" in rows[3].decoded and "not supported" in rows[3].decoded


def _avi_audio_then_video(frame_dib: bytes, w: int, h: int) -> bytes:
    """Hand-built AVI whose AUDIO strl precedes the video strl — the real-
    world layout that made the pre-fix parser misparse a WAVEFORMATEX as a
    BITMAPINFOHEADER (ADVICE r9)."""
    import struct as _struct

    def chunk(cid, body):
        return cid + _struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(kind, body):
        return b"LIST" + _struct.pack("<I", len(body) + 4) + kind + body

    avih = _struct.pack("<IIIIIIIIIIIIII", 40000, 0, 0, 0x10, 1, 0, 2, 0, 0, 0, 0, 0, 0, 0)
    # audio stream: strh fccType 'auds', strf = WAVEFORMATEX (PCM 8kHz mono)
    a_strh = b"auds" + b"\x00\x00\x00\x00" + _struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, 8000, 0, 8000, 0, 0, 0, 0)
    a_strf = _struct.pack("<HHIIHHH", 1, 1, 8000, 16000, 2, 16, 0)
    v_strh = b"vids" + b"DIB " + _struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, 25, 0, 1, 0, 0, 0, 0)
    stride = (w * 3 + 3) & ~3
    v_strf = _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", a_strh) + chunk(b"strf", a_strf))
        + lst(b"strl", chunk(b"strh", v_strh) + chunk(b"strf", v_strf)),
    )
    movi_body = b"movi" + chunk(b"01db", frame_dib)
    movi = b"LIST" + _struct.pack("<I", len(movi_body)) + movi_body
    body = b"AVI " + hdrl + movi
    return b"RIFF" + _struct.pack("<I", len(body)) + body


def test_avi_audio_strl_first_picks_video_strf(spark):
    """ADVICE r9 (medium): with an audio strl ahead of the video stream,
    parse_avi_video_format must skip the WAVEFORMATEX and return the
    'vids' stream's BITMAPINFOHEADER — and frame_pixel_stats must decode
    the DIB frame correctly instead of misrouting on garbage geometry."""
    from simsearch_spark.multimodal.avi import parse_avi_video_format
    from simsearch_spark.multimodal.binary import frame_pixel_stats

    w, h = 6, 4
    stride = (w * 3 + 3) & ~3
    dib = bytearray(stride * h)
    for y in range(h):
        for x in range(w):
            dib[y * stride + 3 * x : y * stride + 3 * x + 3] = bytes((30, 20, 40))  # BGR
    avi = _avi_audio_then_video(bytes(dib), w, h)
    comp, fw, fh, bits, handler = parse_avi_video_format(avi)
    assert (comp, fw, fh, bits, handler) == (0, w, h, 24, b"DIB ")
    df = spark.createDataFrame([(1, bytearray(avi))], "media_id long, payload binary")
    (row,) = frame_pixel_stats(df, every_n=1).collect()
    assert row.decoded == "ok" and (row.width, row.height, row.channels) == (w, h, 3)
    assert row.mean_c0 == 40.0  # BGR in storage → R channel is byte 2


def test_avi_pre_r9_mjpeg_header_routes_to_jpeg(spark):
    """ADVICE r9 (low): pre-r9 encode_avi_mjpeg wrote biCompression=0/
    biBitCount=24 around JPEG frames.  Such payloads must route to image
    decode (the strh handler says MJPG and the frame starts with SOI) —
    never to the raw-DIB path as garbage stats marked 'ok'."""
    import struct as _struct

    from simsearch_spark.multimodal.avi import encode_avi_mjpeg
    from simsearch_spark.multimodal.binary import frame_pixel_stats
    from simsearch_spark.multimodal.jpeg import encode_jpeg

    w, h = 16, 16
    jpg = encode_jpeg(w, h, 1, bytes([99]) * (w * h), quality=85)
    avi = bytearray(encode_avi_mjpeg([jpg]))
    pos = avi.index(b"strf")
    # regress the strf to the pre-r9 shape: biCompression=0 (BI_RGB)
    avi[pos + 8 + 16 : pos + 8 + 20] = b"\x00\x00\x00\x00"
    df = spark.createDataFrame([(1, bytearray(bytes(avi)))], "media_id long, payload binary")
    (row,) = frame_pixel_stats(df, every_n=1).collect()
    assert row.decoded == "ok" and row.channels == 1 and row.mean_c0 == 99.0


def test_16bit_png_decodes_via_high_byte_reduction():
    """16-bit PNGs decode with the correct DOUBLED filter distance
    (RFC 2083 §6.2: bpp is bytes per pixel) and reduce each big-endian
    sample to its high byte — the TIFF-ColorMap 8-bit-reduction
    convention — for every filter, gray and RGB, sequential and Adam7.
    16-bit palette is invalid per spec."""
    import random
    import struct as _s
    import zlib as _z

    from simsearch_spark.multimodal.png import (
        _ADAM7,
        _adam7_dims,
        _chunk,
        _filter_line,
        decode_png,
    )

    rng = random.Random(53)

    def build16(w, h, ch, samples16, ft, interlace=False):
        ct = {1: 0, 3: 2}[ch]

        def raw_for(pixels, pw, phh):
            stride = pw * ch * 2
            out = bytearray()
            prev = bytes(stride)
            for r in range(phh):
                line = pixels[r * stride : (r + 1) * stride]
                out.append(ft)
                out += _filter_line(ft, line, prev, ch * 2)
                prev = line
            return out

        be = b"".join(_s.pack(">H", v) for v in samples16)
        if not interlace:
            raw = raw_for(be, w, h)
        else:
            raw = bytearray()
            for (x0, y0, dx, dy), (pw, phh) in zip(_ADAM7, _adam7_dims(w, h)):
                if not pw or not phh:
                    continue
                sub = bytearray()
                for j in range(phh):
                    y = y0 + j * dy
                    for i in range(pw):
                        x = x0 + i * dx
                        for c in range(ch):
                            o = ((y * w + x) * ch + c) * 2
                            sub += be[o : o + 2]
                raw += raw_for(bytes(sub), pw, phh)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 16, ct, 0, 0, int(interlace)))
            + _chunk(b"IDAT", _z.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )

    for w, h, ch in [(5, 3, 1), (4, 4, 3), (9, 2, 1), (1, 1, 3)]:
        samples = [rng.randrange(65536) for _ in range(w * h * ch)]
        want = bytes(v >> 8 for v in samples)
        for ft in range(5):
            for il in (False, True):
                assert decode_png(build16(w, h, ch, samples, ft, il)) == (
                    w, h, ch, want,
                ), (w, h, ch, ft, il)

    bad = b"\x89PNG\r\n\x1a\n" + _chunk(
        b"IHDR", _s.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    )
    with pytest.raises(ValueError, match="16-bit palette"):
        decode_png(bad)


def test_sub_byte_png_depths():
    """1/2/4-bit PNGs (gray + palette): MSB-first bit groups unpack per
    scanline (row padding discarded), filters run on the PACKED bytes with
    bpp = 1 (RFC 2083 §6.2 floor), gray scales by bit replication
    (1→×255, 2→×85, 4→×17), palette keeps indices for PLTE lookup."""
    import random
    import struct as _s
    import zlib as _z

    from simsearch_spark.multimodal.png import _chunk, _filter_line, decode_png

    rng = random.Random(13)

    def build(w, h, depth, vals, ct=0, plte=b"", ft=0):
        per = 8 // depth
        stride = (w * depth + 7) // 8
        raw = bytearray()
        prev = bytes(stride)
        for y in range(h):
            line = bytearray(stride)
            for x in range(w):
                line[x // per] |= vals[y * w + x] << (8 - depth * (x % per + 1))
            raw.append(ft)
            raw += _filter_line(ft, bytes(line), prev, 1)
            prev = bytes(line)
        body = _chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, depth, ct, 0, 0, 0))
        if plte:
            body += _chunk(b"PLTE", plte)
        return (
            b"\x89PNG\r\n\x1a\n" + body
            + _chunk(b"IDAT", _z.compress(bytes(raw))) + _chunk(b"IEND", b"")
        )

    for depth in (1, 2, 4):
        scale = 255 // ((1 << depth) - 1)
        for w, h in [(1, 1), (7, 3), (8, 2), (9, 5)]:
            vals = [rng.randrange(1 << depth) for _ in range(w * h)]
            for ft in range(5):
                assert decode_png(build(w, h, depth, vals, ft=ft)) == (
                    w, h, 1, bytes(v * scale for v in vals),
                ), (depth, w, h, ft)

    plte = bytes([250, 0, 0, 0, 250, 0, 0, 0, 250, 7, 7, 7])
    vals = [0, 1, 2, 3, 3, 2, 1, 0]
    want = b"".join(plte[3 * v : 3 * v + 3] for v in vals)
    assert decode_png(build(4, 2, 2, vals, ct=3, plte=plte)) == (4, 2, 3, want)

    # sub-byte RGB is invalid per spec
    bad = b"\x89PNG\r\n\x1a\n" + _chunk(
        b"IHDR", _s.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    )
    with pytest.raises(ValueError, match="gray/palette-only"):
        decode_png(bad)


def test_sub_byte_interlaced_png():
    """Adam7 × sub-byte (r12 — the last (depth × layout) cell): each pass
    scanline PACKS its own pw samples (ceil(pw·depth/8) bytes, pass-local
    padding), filters run on the packed bytes with the 1-byte distance,
    and the scattered result equals the non-interlaced decode of the same
    sample grid — for every depth, every filter type, gray AND palette,
    and geometries that exercise empty passes (1x1) and pass-padding
    boundaries."""
    import random
    import struct as _s
    import zlib as _z

    from simsearch_spark.multimodal.png import (
        _ADAM7,
        _adam7_dims,
        _chunk,
        _filter_line,
        decode_png,
    )

    rng = random.Random(29)

    def pack_line(vals, depth):
        per = 8 // depth
        line = bytearray((len(vals) * depth + 7) // 8)
        for x, v in enumerate(vals):
            line[x // per] |= v << (8 - depth * (x % per + 1))
        return bytes(line)

    def build(w, h, depth, vals, ct=0, plte=b"", ft=0, interlace=True):
        raw = bytearray()
        if interlace:
            for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, _adam7_dims(w, h)):
                if not pw or not ph:
                    continue
                prev = bytes((pw * depth + 7) // 8)
                for j in range(ph):
                    y = y0 + j * dy
                    line = pack_line(
                        [vals[y * w + x0 + i * dx] for i in range(pw)], depth
                    )
                    raw.append(ft)
                    raw += _filter_line(ft, line, prev, 1)
                    prev = line
        else:
            prev = bytes((w * depth + 7) // 8)
            for y in range(h):
                line = pack_line(vals[y * w : (y + 1) * w], depth)
                raw.append(ft)
                raw += _filter_line(ft, line, prev, 1)
                prev = line
        body = _chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, depth, ct, 0, 0, int(interlace)))
        if plte:
            body += _chunk(b"PLTE", plte)
        return (
            b"\x89PNG\r\n\x1a\n" + body
            + _chunk(b"IDAT", _z.compress(bytes(raw))) + _chunk(b"IEND", b"")
        )

    for depth in (1, 2, 4):
        scale = 255 // ((1 << depth) - 1)
        for w, h in [(1, 1), (3, 2), (7, 3), (8, 8), (9, 5), (17, 10)]:
            vals = [rng.randrange(1 << depth) for _ in range(w * h)]
            want = (w, h, 1, bytes(v * scale for v in vals))
            for ft in range(5):
                got = decode_png(build(w, h, depth, vals, ft=ft))
                assert got == want, (depth, w, h, ft)
                # interlaced == non-interlaced, the layout-invariance pin
                assert got == decode_png(
                    build(w, h, depth, vals, ft=ft, interlace=False)
                ), (depth, w, h, ft)

    # interlaced sub-byte PALETTE: indices survive scatter, PLTE expands
    plte = bytes([250, 0, 0, 0, 250, 0, 0, 0, 250, 7, 7, 7])
    vals = [rng.randrange(4) for _ in range(9 * 5)]
    want = b"".join(plte[3 * v : 3 * v + 3] for v in vals)
    assert decode_png(build(9, 5, 2, vals, ct=3, plte=plte)) == (9, 5, 3, want)

    # truncated interlaced sub-byte stream is malformed, not a crash
    raw = bytearray()
    for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, _adam7_dims(7, 3)):
        if not pw or not ph:
            continue
        prev = bytes((pw * 4 + 7) // 8)
        for j in range(ph):
            line = pack_line([1] * pw, 4)
            raw.append(0)
            raw += line
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", _s.pack(">IIBBBBB", 7, 3, 4, 0, 0, 0, 1))
        + _chunk(b"IDAT", _z.compress(bytes(raw[:-1])))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="Adam7"):
        decode_png(bad)
