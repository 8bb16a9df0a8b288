"""Codec invariants (BASELINE.json: lossless allclose; lossy PSNR ≥ 40 dB;
phash stability) — SURVEY.md §2.B B10–B12."""

import numpy as np
from hypothesis import given, settings, strategies as st

from spark_shp import codecs, fixtures


def _img(i=3, w=32, h=48):
    return fixtures.image_pixels(i, w, h)


def test_raw_roundtrip_exact():
    p = _img()
    assert np.array_equal(codecs.decode(codecs.encode(p, "raw"),
                                        32, 48, "raw"), p)


def test_png_roundtrip_exact():
    p = _img(5, 64, 16)
    out = codecs.decode(codecs.encode(p, "png"), 64, 16, "png")
    assert np.array_equal(out, p)


def _filter_rows(px, filters):
    """Filter each scanline of ``px`` (h, w, bpp) uint8 with its type in
    ``filters`` (0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth), predicting from
    the source bytes as an encoder does → (h, 1 + w * bpp) PNG rows."""
    h, w, bpp = px.shape
    x = px.reshape(h, w * bpp).astype(np.int32)
    pad = np.zeros((h, bpp), np.int32)
    up = np.vstack([np.zeros((1, w * bpp), np.int32), x[:-1]])
    left = np.hstack([pad, x[:, :-bpp]])
    upleft = np.hstack([pad, up[:, :-bpp]])
    p = left + up - upleft
    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
    paeth = np.where((pa <= pb) & (pa <= pc), left,
                     np.where(pb <= pc, up, upleft))
    pred = np.stack([np.zeros_like(x), left, up, (left + up) // 2, paeth])
    rows = (x - pred[filters, np.arange(h)]) % 256
    return np.hstack([np.asarray(filters)[:, None], rows]).astype(np.uint8)


def test_png_signature_and_foreign_filters():
    data = codecs.encode(_img(), "png")
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    # hand-filtered PNGs of every 8-bit channel layout, each row with its
    # own filter: runs of None/Up rows, every filter after every other,
    # and each filter type as the first row (whose row above is zero)
    rng = np.random.default_rng(11)
    tail = [2, 2, 0, 2, 1, 2, 3, 2, 4, 4, 0, 1, 3, 0, 4, 2, 1, 1, 3, 3]
    for ctype, bpp in ((0, 1), (2, 3), (4, 2), (6, 4)):
        for first in range(5):
            src = rng.integers(0, 256, (1 + len(tail), 7, bpp), np.uint8)
            blob = _png_build(src, ctype,
                              filters=lambda n: np.r_[first, tail][:n])
            want = (np.repeat(src[:, :, :1], 3, axis=2) if ctype in (0, 4)
                    else src[:, :, :3])
            assert np.array_equal(codecs.png_decode(blob), want), (ctype,
                                                                   first)
    # Adam7: every pass filtered on its own, random filter per row
    src = rng.integers(0, 256, (19, 23, 3), np.uint8)
    blob = _png_build(src, 2, interlace=1,
                      filters=lambda n: rng.integers(0, 5, n))
    assert np.array_equal(codecs.png_decode(blob), src)


def test_qb_psnr_at_least_40db():
    worst = 100.0
    for i in range(8):
        p = _img(i, 48, 48)
        out = codecs.decode(codecs.encode(p, "qb"), 48, 48, "qb")
        worst = min(worst, codecs.psnr(p, out))
    assert worst >= 40.0, worst


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 10_000))
def test_qb_psnr_property(i):
    p = fixtures.image_pixels(i, 16, 16)
    out = codecs.decode(codecs.encode(p, "qb"), 16, 16, "qb")
    assert codecs.psnr(p, out) >= 40.0


def test_phash_stable_and_sensitive():
    p = _img(7, 64, 64)
    h1 = codecs.phash(p)
    assert h1 == codecs.phash(p.copy())
    assert isinstance(h1, int)
    # qb-lossy decode keeps phash identical (tiny perturbation)
    lossy = codecs.decode(codecs.encode(p, "qb"), 64, 64, "qb")
    hq = codecs.phash(lossy)
    assert bin((h1 ^ hq) & 0xFFFFFFFFFFFFFFFF).count("1") <= 4


def test_image_row_contract():
    row = fixtures.image_row(12)  # fmt cycle: 12 % 3 == 0 → raw
    assert row["fmt"] == "raw"
    px = codecs.decode(row["bytes"], row["w"], row["h"], row["fmt"])
    assert px.shape == (row["h"], row["w"], 3)
    assert codecs.phash(px) == row["phash"]
    assert f"({row['lon']:.3f},{row['lat']:.3f})" in row["caption"]


def _png_build(px, ctype, palette=None, interlace=0, filters=None):
    """Hand-build a PNG of any color type / interlace for decoder-interop
    tests (the production encoder writes only RGB8 non-interlaced).
    ``filters(n)`` gives the filter types of an image's (or an Adam7
    pass's) n rows; None filters no row."""
    import struct
    import zlib

    import numpy as np
    from spark_shp import codecs

    h, w, bpp = px.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, interlace)
    grid = codecs._ADAM7 if interlace else [(0, 0, 1, 1)]
    parts = []
    for x0, y0, dx, dy in grid:
        sub = px[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        f = (np.zeros(len(sub), np.int64) if filters is None
             else np.asarray(filters(len(sub))))
        parts.append(_filter_rows(sub, f).tobytes())
    payload = b"".join(parts)
    out = codecs._PNG_SIG + codecs._chunk(b"IHDR", ihdr)
    if palette is not None:
        out += codecs._chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    out += codecs._chunk(b"IDAT", zlib.compress(payload, 6))
    out += codecs._chunk(b"IEND", b"")
    return out


def test_png_decode_all_color_types():
    import numpy as np
    from spark_shp import codecs

    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, (13, 17, 3)).astype(np.uint8)
    # grayscale (0)
    g = rgb[:, :, :1]
    assert np.array_equal(codecs.png_decode(_png_build(g, 0)),
                          np.repeat(g, 3, axis=2))
    # palette (3)
    pal = rng.integers(0, 256, (256, 3)).astype(np.uint8)
    idx = rng.integers(0, 256, (13, 17, 1)).astype(np.uint8)
    assert np.array_equal(codecs.png_decode(_png_build(idx, 3, pal)),
                          pal[idx[:, :, 0]])
    # gray+alpha (4): alpha dropped
    ga = np.concatenate([g, rng.integers(0, 256, (13, 17, 1))
                         .astype(np.uint8)], axis=2)
    assert np.array_equal(codecs.png_decode(_png_build(ga, 4)),
                          np.repeat(g, 3, axis=2))
    # RGBA (6): alpha dropped
    rgba = np.concatenate([rgb, rng.integers(0, 256, (13, 17, 1))
                           .astype(np.uint8)], axis=2)
    assert np.array_equal(codecs.png_decode(_png_build(rgba, 6)), rgb)


def test_png_decode_adam7_interlaced():
    import numpy as np
    from spark_shp import codecs

    rng = np.random.default_rng(7)
    for w, h in ((17, 13), (8, 8), (3, 5), (1, 1), (16, 2)):
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        blob = _png_build(rgb, 2, interlace=1)
        assert np.array_equal(codecs.png_decode(blob), rgb)
    # interlaced palette too (bpp 1)
    pal = rng.integers(0, 256, (256, 3)).astype(np.uint8)
    idx = rng.integers(0, 256, (13, 17, 1)).astype(np.uint8)
    blob = _png_build(idx, 3, palette=pal, interlace=1)
    assert np.array_equal(codecs.png_decode(blob), pal[idx[:, :, 0]])


def test_png_decode_rejects_16bit():
    import struct
    import zlib

    import numpy as np
    import pytest
    from spark_shp import codecs

    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0)
    blob = (codecs._PNG_SIG + codecs._chunk(b"IHDR", ihdr)
            + codecs._chunk(b"IDAT", zlib.compress(b"\0" * 100))
            + codecs._chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="8-bit"):
        codecs.png_decode(blob)
