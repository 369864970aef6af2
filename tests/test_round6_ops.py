"""Round-6 operator tests. The MERGE unique-key and foreachBatch retry
tests live in ``tests/test_txn_log.py``."""

from __future__ import annotations

import pytest


def _test_image(w: int = 30, h: int = 20, channels: int = 3) -> bytes:
    """Deterministic synthetic raster: smooth gradients + a bright block
    so luminance/dHash have real structure."""
    raw = bytearray()
    for y in range(h):
        for x in range(w):
            base = [
                (x * 255) // max(w - 1, 1),
                (y * 255) // max(h - 1, 1),
                (x * y * 7) % 256,
                255,
            ]
            if w // 4 <= x < w // 2 and h // 4 <= y < h // 2:
                base[0] = base[1] = 250
            raw += bytes(base[:channels])
    return bytes(raw)


def test_png_codec_roundtrip_all_filters():
    """Stdlib PNG codec: encode→decode is pixel-exact for every row
    filter (0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth) and every channel
    layout (gray, gray+alpha, RGB, RGBA)."""
    from nzwirelessmap_fetch_spark.functions import png

    for channels in (1, 2, 3, 4):
        raw = _test_image(17, 13, channels)
        for ftype in range(5):
            blob = png.encode_png(raw, 17, 13, channels, filter_type=ftype)
            w, h, ch, out = png.decode_png(blob)
            assert (w, h, ch) == (17, 13, channels), (channels, ftype)
            assert out == raw, f"filter {ftype} channels {channels} not exact"


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 16),
        channels=st.sampled_from([1, 2, 3, 4]),
        ftype=st.integers(0, 4),
        data=st.data(),
    )
    def test_png_codec_roundtrip_property(w, h, channels, ftype, data):
        """Property: encode→decode is the identity for ANY 8-bit raster,
        every filter type, every channel layout — including 1-pixel
        images and extreme values (hypothesis-driven)."""
        from nzwirelessmap_fetch_spark.functions import png

        raw = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255),
                    min_size=w * h * channels,
                    max_size=w * h * channels,
                )
            )
        )
        blob = png.encode_png(raw, w, h, channels, filter_type=ftype)
        assert png.decode_png(blob) == (w, h, channels, raw)

except ImportError:  # hypothesis is baked in; guard mirrors repo style
    pass


def test_png_codec_rejects_corruption_and_unsupported():
    from nzwirelessmap_fetch_spark.functions import png

    blob = bytearray(png.encode_png(_test_image(), 30, 20, 3))
    blob[40] ^= 0xFF  # flip a byte inside IHDR/IDAT territory
    with pytest.raises((ValueError, Exception)):
        png.decode_png(bytes(blob))
    with pytest.raises(ValueError, match="signature"):
        png.decode_png(b"definitely not a png")


def test_decode_image_stdlib_png_branch():
    """decode_image's guaranteed-present branch: a real PNG decodes to
    its true dimensions IN THIS CONTAINER; the NotImplementedError path
    now only fires for non-PNG payloads (when PIL is absent)."""
    from nzwirelessmap_fetch_spark.functions import png
    from nzwirelessmap_fetch_spark.operators.multimodal import (
        IMAGE_DECODER_AVAILABLE,
        decode_image,
    )

    blob = png.encode_png(_test_image(30, 20, 3), 30, 20, 3, filter_type=4)
    feats = decode_image(blob)
    assert (feats["width"], feats["height"]) == (30, 20)
    assert feats["n_bytes"] == len(blob)
    if not IMAGE_DECODER_AVAILABLE:
        with pytest.raises(NotImplementedError, match="non-PNG"):
            decode_image(b"\xff\xd8\xff\xe0 fake jpeg bytes")


def test_image_pipelines_real_pixels(spark):
    """REAL pixels end-to-end through the Arrow-batch plumbing (r6
    directive #3): decode-features, resize (thumb is itself a decodable
    PNG of the box-resampled luminance), and real-pixel dHash — each
    verified against a local recompute, and the dHash obeys the
    perceptual contract (tiny edit → small Hamming distance; unrelated
    image → large)."""
    import hashlib

    from nzwirelessmap_fetch_spark.functions import png
    from nzwirelessmap_fetch_spark.operators.multimodal import (
        image_decode_features,
        image_phash,
        image_resize,
    )

    base_raw = bytearray(_test_image(36, 24, 3))
    edited = bytearray(base_raw)
    edited[100] ^= 0x04  # one-subpixel tweak
    blobs = [
        (0, png.encode_png(bytes(base_raw), 36, 24, 3, filter_type=1)),
        (1, png.encode_png(bytes(edited), 36, 24, 3, filter_type=3)),
        (2, png.encode_png(_test_image(40, 40, 4)[::-1], 40, 40, 4)),
    ]
    media = spark.createDataFrame(blobs, "media_id long, media binary")

    feats = {r.media_id: r for r in image_decode_features(media).collect()}
    assert (feats[0].width, feats[0].height) == (36, 24)
    assert (feats[2].width, feats[2].height) == (40, 40)
    assert feats[0].content_md5 == hashlib.md5(blobs[0][1]).hexdigest()

    thumbs = {r.media_id: r for r in image_resize(media, 8, 8).collect()}
    for mid, blob in blobs:
        t = thumbs[mid]
        assert (t.out_w, t.out_h) == (8, 8)
        tw, th, tch, traw = png.decode_png(bytes(t.thumb))
        assert (tw, th, tch) == (8, 8, 1)
        # local recompute of the expected grid
        w, h, ch, raw = png.decode_png(blob)
        expect = png.box_resize(png.luminance(raw, w, h, ch), w, h, 8, 8)
        assert traw == expect

    hashes = {r.media_id: r.dhash for r in image_phash(media).collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(hashes[0], hashes[1]) <= 4  # near-dup stays near
    assert ham(hashes[0], hashes[2]) > 10  # unrelated image far


def test_winnow_array_verify_variant_exact(spark):
    """The measurable array-verify winnowing plan emits EXACTLY the
    count-agg plan's rows (smaller-side prefix lemma, both orders of
    exceptAll empty) — the r6 adjudication compares plans, never
    semantics."""
    from nzwirelessmap_fetch_spark.operators.text import (
        _winnow_pairs,
        _winnow_pairs_array_verify,
    )
    from tests.conftest import SF_SMOKE

    a = _winnow_pairs(spark, SF_SMOKE, None)
    b = _winnow_pairs_array_verify(spark, SF_SMOKE, None)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_stage_tree_extracts_and_guards(tmp_path):
    """Directory-artifact staging: subtree extracted with layout
    preserved; traversal members rejected (zip-slip); missing prefix is
    the reference's not-found error contract."""
    import zipfile

    from nzwirelessmap_fetch_spark.sources.zip_staging import stage_tree

    z = tmp_path / "a.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("db/seg0/c1.dat", b"x")
        zf.writestr("db/service.properties", b"k=v")
        zf.writestr("other/readme", b"no")
    root = stage_tree(z, "db/", tmp_path / "out")
    assert (root / "seg0" / "c1.dat").read_bytes() == b"x"
    assert (root / "service.properties").exists()
    assert not (root / "readme").exists()
    with pytest.raises(FileNotFoundError):
        stage_tree(z, "nope/", tmp_path / "out2")
    evil = tmp_path / "evil.zip"
    with zipfile.ZipFile(evil, "w") as zf:
        zf.writestr("db/../../escape", b"!")
    with pytest.raises(ValueError, match="unsafe"):
        stage_tree(evil, "db/", tmp_path / "out3")


def test_state_partitions_volume_rule():
    """State-store instances size from event-table bytes: the measured
    optimum 8 at fixture volume, more at the sf1 decade, clamped at 64."""
    from nzwirelessmap_fetch_spark.streaming.events_stream import (
        _state_partitions_for,
    )

    assert _state_partitions_for("/root/testdata/sf0.1") == 8  # 2 MB
    assert _state_partitions_for("/root/testdata/sf0.01") == 8
