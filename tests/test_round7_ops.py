"""Round-7 tests: PNG palettes. The adaptive prefix-order test lives in
``tests/test_pair_builds.py``; the txn-log concurrency, compaction and
schema-evolution tests live in ``tests/test_txn_log.py``."""

from __future__ import annotations

import pytest


def test_png_palette_roundtrip_and_trns():
    """Directive #7: color-type-3 (palette) PNG decodes through the
    stdlib codec — PLTE lookup is pixel-exact for every row filter,
    tRNS produces RGBA with spec-default opaque tails, and malformed
    palettes fail loudly."""
    from nzwirelessmap_fetch_spark.functions import png

    w, h = 23, 11
    palette = [(i * 7 % 256, i * 31 % 256, 255 - i) for i in range(16)]
    indices = bytes((x * y + x) % 16 for y in range(h) for x in range(w))
    for ftype in range(5):
        blob = png.encode_png_palette(indices, w, h, palette, filter_type=ftype)
        dw, dh, ch, raw = png.decode_png(blob)
        assert (dw, dh, ch) == (w, h, 3)
        expect = b"".join(bytes(palette[i]) for i in indices)
        assert raw == expect, f"palette mismatch at filter {ftype}"

    # tRNS: alpha table shorter than the palette → tail is opaque
    trns = [0, 128, 255]
    blob = png.encode_png_palette(indices, w, h, palette, trns=trns)
    dw, dh, ch, raw = png.decode_png(blob)
    assert ch == 4
    for i, idx in enumerate(indices):
        r, g, b, a = raw[i * 4 : i * 4 + 4]
        assert (r, g, b) == palette[idx]
        assert a == (trns[idx] if idx < len(trns) else 255)

    # decode_image's stdlib branch handles palette PNGs now
    from nzwirelessmap_fetch_spark.operators.multimodal import decode_image

    feats = decode_image(blob)
    assert (feats["width"], feats["height"]) == (w, h)

    # out-of-range index → loud failure, not garbage pixels
    bad = png.encode_png_palette(bytes([3]) * 4, 2, 2, palette[:4])
    bad = bad.replace(b"PLTE" + b"".join(bytes(p) for p in palette[:4]),
                      b"PLTE" + b"".join(bytes(p) for p in palette[:2]))
    # (re-chunked blob has a stale CRC → either error is acceptable)
    with pytest.raises(ValueError):
        png.decode_png(bad)
