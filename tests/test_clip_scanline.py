"""The scanline clip kernel (geom.scanline_parity) against the brute-force
ray cast (geom.crossings % 2 on the meshgrid of the same pixel centres),
and the clip operators' batch functions run without Spark: the check of
each image blob against its row's w/h, and every output column against a
per-row decode."""

import struct
import zlib
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from spark_shp import clip, codecs, fixtures, geom

STEP = clip.DEG_PER_PX


def _brute_mask(lon, lat, w, h, edges, step=STEP):
    xs = lon + (np.arange(w) - w / 2 + 0.5) * step
    ys = lat + (h / 2 - np.arange(h) - 0.5) * step
    gx, gy = np.meshgrid(xs, ys)
    if edges is None or not len(edges):
        return np.zeros(w * h, dtype=bool)
    return geom.crossings(gx.ravel(), gy.ravel(), edges) % 2 == 1


def _check_batch(lon, lat, w, h, pids, poly_edges, step=STEP):
    got = geom.scanline_parity(lon, lat, w, h, pids, poly_edges, step)
    assert got.dtype == bool and len(got) == int(np.sum(np.multiply(w, h)))
    off = 0
    for k in range(len(w)):
        n = int(w[k]) * int(h[k])
        want = _brute_mask(lon[k], lat[k], int(w[k]), int(h[k]),
                           poly_edges.get(int(pids[k])), step)
        assert np.array_equal(got[off:off + n], want), (k, lon[k], lat[k])
        off += n


def _coord(rng, centre, size, k, step):
    """One vertex coordinate along an axis of an image of ``size`` pixels
    centred at ``centre``: on the pixel-centre lattice, on the half-pixel
    lattice (pixel sides), or anywhere, within a few pixels outside."""
    i = int(rng.integers(-3, size + 3))
    kind = k % 3
    if kind == 0:
        return centre + ((i - size / 2) + 0.5) * step
    if kind == 1:
        return centre + (i - size / 2) * step
    return centre + rng.uniform(-size / 2 - 3, size / 2 + 3) * step


def _random_polygon(rng, lon, lat, w, h, step=STEP):
    """Edge table of a random multipart polygon around an image: random
    rings (vertices snapped as ``_coord`` draws them) and axis-aligned
    rectangles, the latter with a hole (horizontal and vertical edges)."""
    rings = []
    for _ in range(int(rng.integers(1, 4))):
        snap = int(rng.integers(0, 3))
        if rng.random() < 0.5:
            x0, x1 = sorted(_coord(rng, lon, w, snap, step) for _ in "ab")
            y0, y1 = sorted(_coord(rng, lat, h, snap, step) for _ in "ab")
            rings.append(np.array([(x0, y0), (x0, y1), (x1, y1), (x1, y0)]))
            mx, my = (x0 + x1) / 2, (y0 + y1) / 2
            rings.append(np.array([(x0, y0), (mx, y0), (mx, my), (x0, my)]))
        else:
            n = int(rng.integers(3, 9))
            rings.append(np.array(
                [(_coord(rng, lon, w, snap + v, step),
                  _coord(rng, lat, h, snap + 2 * v, step))
                 for v in range(n)]))
    return geom.rings_to_edges(rings)


@pytest.mark.parametrize("centre_lon", [0.0, 0.003, 179.994, -179.996,
                                        179.9999, -0.005, 37.25])
def test_scanline_parity_matches_ray_cast(centre_lon):
    rng = np.random.default_rng(int(abs(centre_lon) * 1000) + 17)
    for _ in range(40):
        k = int(rng.integers(1, 7))
        # several image shapes per batch, with w or h of 1 now and then
        w = rng.choice([1, 2, 3, 7, 16, 33], k)
        h = rng.choice([1, 2, 5, 8, 16, 31], k)
        lon = centre_lon + rng.integers(-4, 5, k) * STEP / 2
        lat = rng.uniform(-60, 60) + rng.integers(-4, 5, k) * STEP / 2
        poly_edges = {p: _random_polygon(rng, lon[p % k], lat[p % k],
                                         int(w[p % k]), int(h[p % k]))
                      for p in range(4)}
        poly_edges[4] = np.empty((0, 4))             # empty edge table
        # ids 0-4, and 5, which poly_edges does not hold
        pids = rng.integers(0, 6, k)
        _check_batch(lon, lat, w, h, pids, poly_edges)


def test_scanline_parity_edge_cases():
    # pixel-centre grid lines: a vertical edge through a column of pixel
    # centres and horizontal edges through a row of them
    lon, lat, w, h = 10.0, 20.0, 6, 4
    xc = lon + ((np.arange(w) - w / 2) + 0.5) * STEP
    yc = lat + ((h / 2 - np.arange(h)) - 0.5) * STEP
    square = geom.rings_to_edges([np.array(
        [(xc[1], yc[0]), (xc[4], yc[0]), (xc[4], yc[3]), (xc[1], yc[3])])])
    far = square + [5.0, 5.0, 5.0, 5.0]              # edges off the image
    edges = {0: square, 1: far}
    _check_batch(np.full(4, lon), np.full(4, lat), np.array([w, w, 1, w]),
                 np.array([h, h, h, 1]), np.array([0, 1, 0, 0]), edges)
    # px < xin is strict: centres on the west edge are inside, centres
    # on the east edge outside
    mask = geom.scanline_parity([lon], [lat], [w], [h], [0], edges, STEP)
    assert mask.reshape(h, w)[1].tolist() == [False, True, True, True,
                                              False, False]
    # no images, and images with no edges at all
    assert len(geom.scanline_parity([], [], [], [], [], {}, STEP)) == 0
    assert not geom.scanline_parity([lon], [lat], [3], [2], [7], {},
                                    STEP).any()


def test_clip_pixels_matches_ray_cast():
    edges = geom.rings_to_edges(fixtures.fence_rings(0))
    cx, cy, hx, hy = fixtures.fence_params(0)
    px = np.arange(24 * 40 * 3, dtype=np.uint8).reshape(24, 40, 3)
    clipped, n_in = clip.clip_pixels(px, cx - hx, cy + hy / 2, edges)
    want = _brute_mask(cx - hx, cy + hy / 2, 40, 24, edges).reshape(24, 40)
    assert n_in == int(want.sum()) > 0
    assert np.array_equal(clipped, np.where(want[..., None], px, 0))


class _Capture:
    """Takes the place of the DataFrame a clip operator is given, and
    hands back the Arrow-batch function it passes to mapInPandas."""
    sparkSession = SimpleNamespace(sparkContext=SimpleNamespace(
        broadcast=lambda v: SimpleNamespace(value=v)))

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        return fn


def _batch(rows):
    return pd.DataFrame(rows).assign(poly_id=0, phash=0)


def _run(op, pdf):
    fn = (op(_Capture(), {0: np.empty((0, 4))})
          if op is clip.raster_vector_clip else op(_Capture()))
    return list(fn(iter([pdf])))


@pytest.mark.parametrize("op", [clip.raster_vector_clip, clip.phash_verify,
                                clip.decode_stats])
def test_malformed_blob_names_its_image(op):
    # two 4x4 raw blobs of 45 and 51 bytes: joined they hold exactly two
    # images, so without a per-blob check the second decodes shifted
    ok = np.arange(48, dtype=np.uint8)
    raw = [{"image_id": "short", "bytes": ok[:45].tobytes()},
           {"image_id": "long", "bytes": bytes(range(100, 151))}]
    raw = [dict(r, w=4, h=4, fmt="raw", lon=0.0, lat=0.0) for r in raw]
    with pytest.raises(ValueError, match="'short'"):
        _run(op, _batch(raw))
    # a png / qb stream of 8x8 pixels in a 4x4 row
    big = np.full((8, 8, 3), 7, dtype=np.uint8)
    for fmt in ("png", "qb"):
        row = {"image_id": f"big_{fmt}", "bytes": codecs.encode(big, fmt),
               "w": 4, "h": 4, "fmt": fmt, "lon": 0.0, "lat": 0.0}
        with pytest.raises(ValueError, match=f"'big_{fmt}'"):
            _run(op, _batch([row]))
    # a png whose image data holds one row too few, one whose image data
    # is not a zlib stream, and a palette png indexing past its palette
    rgb = struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0)
    pal = (struct.pack(">IIBBBBB", 16, 16, 8, 3, 0, 0, 0),
           codecs._chunk(b"PLTE", bytes(6)))
    for name, (ihdr, plte), rows in (
            ("short_png", (rgb, b""), np.zeros((15, 1 + 16 * 3), np.uint8)),
            ("corrupt_png", (rgb, b""), None),
            ("palette_png", pal,
             np.pad(np.full((16, 16), 5, np.uint8), ((0, 0), (1, 0))))):
        idat = (b"not a zlib stream" if rows is None
                else zlib.compress(rows.tobytes()))
        blob = (codecs._PNG_SIG + codecs._chunk(b"IHDR", ihdr) + plte
                + codecs._chunk(b"IDAT", idat) + codecs._chunk(b"IEND", b""))
        row = {"image_id": name, "bytes": blob, "w": 16, "h": 16,
               "fmt": "png", "lon": 0.0, "lat": 0.0}
        with pytest.raises(ValueError, match=f"'{name}'"):
            _run(op, _batch([row]))
    # well-formed rows still run
    good = dict(raw[0], image_id="good", w=8, h=8,
                bytes=np.arange(192, dtype=np.uint8).tobytes())
    assert len(pd.concat(_run(op, _batch([good])))) == 1


def test_phash_verify_rejects_images_under_8px():
    # both hashed to 0 before, so a stored 0 "matched" whatever the pixels
    rows = [{"image_id": name, "bytes": np.full(48, v, np.uint8).tobytes(),
             "w": 4, "h": 4, "fmt": "raw", "lon": 0.0, "lat": 0.0}
            for name, v in (("dark", 0), ("bright", 200))]
    for row in rows:
        with pytest.raises(ValueError, match=f"'{row['image_id']}' is 4x4"):
            _run(clip.phash_verify, _batch([row]))


def test_phash_verify_matches_per_row_reference():
    """One batch of raw, png and qb rows of many shapes (tie images of
    test_phash included), some stored hashes off by 1, 4 or 5 bits: each
    output row is the row's own decode and float-definition hash."""
    from tests.test_phash import TIE_ORIGINALS, TIE_QB, _float_phash

    rows = []
    for n, i in enumerate(list(range(24)) + list(TIE_ORIGINALS + TIE_QB)):
        r = fixtures.image_row(i)
        px = codecs.decode(r["bytes"], r["w"], r["h"], r["fmt"])
        for fmt in ("raw", "png", "qb"):
            flip = (0, 1, 4, 5)[(n + len(fmt)) % 4]
            stored = np.int64(r["phash"]) ^ np.int64((1 << flip) - 1)
            rows.append(dict(r, image_id=f"{i}_{fmt}", fmt=fmt,
                             bytes=codecs.encode(px, fmt),
                             phash=int(stored)))
    pdf = pd.DataFrame(rows).assign(poly_id=0)
    out = pd.concat(_run(clip.phash_verify, pdf)).reset_index(drop=True)
    want = []
    for r in rows:
        got = _float_phash(codecs.decode(r["bytes"], r["w"], r["h"],
                                         r["fmt"]))
        ham = bin((got ^ r["phash"]) & (2 ** 64 - 1)).count("1")
        want.append((r["image_id"], r["phash"], got,
                     ham == 0 if r["fmt"] != "qb" else ham <= 4, ham))
    assert list(out.columns) == [f.name for f in clip.PHASH_SCHEMA]
    assert list(out.itertuples(index=False, name=None)) == want
    assert 0 < int(out["match"].sum()) < len(out)


def test_clip_and_decode_stats_match_per_row_reference():
    """One batch of raw, png and qb rows, repeated and unique shapes (w or
    h of 1 among them), against fences near the images, one far off and
    one poly id that ``poly_edges`` does not hold: every output column of
    ``raster_vector_clip`` and ``decode_stats``, dtypes included, is the
    row's own decode masked by the meshgrid ray cast."""
    rng = np.random.default_rng(23)
    lon0, lat0 = 10.0, 20.0
    x0, x1 = lon0 - 9 * STEP, lon0 + 7.5 * STEP
    y0, y1 = lat0 - 6 * STEP, lat0 + 4.5 * STEP
    poly_edges = {
        0: _random_polygon(rng, lon0, lat0, 24, 16),
        1: geom.rings_to_edges([np.array(
            [(x0, y0), (x0, y1), (x1, y1), (x1, y0)])]),
        2: geom.rings_to_edges([np.array(                # far off
            [(50.0, 50.0), (50.0, 51.0), (51.0, 51.0), (51.0, 50.0)])]),
    }
    shapes = [(16, 16)] * 4 + [(24, 16), (33, 7), (1, 9), (12, 1), (1, 1)]
    rows = []
    for n, (w, h) in enumerate(shapes):
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for fmt in ("raw", "png", "qb"):
            k = len(rows)
            rows.append({"image_id": f"{n}_{fmt}",
                         "bytes": codecs.encode(px, fmt),
                         "w": w, "h": h, "fmt": fmt,
                         "lon": lon0 + int(rng.integers(-6, 7)) * STEP / 2,
                         "lat": lat0 + int(rng.integers(-6, 7)) * STEP / 2,
                         "poly_id": (0, 1, 0, 1, 2, 5)[k % 6]})
    pdf = pd.DataFrame(rows).assign(phash=0)

    clipped, stats = [], []
    for r in rows:
        w, h = r["w"], r["h"]
        px = codecs.decode(r["bytes"], w, h, r["fmt"])
        mask = _brute_mask(r["lon"], r["lat"], w, h,
                           poly_edges.get(r["poly_id"])).reshape(h, w)
        cut = np.where(mask[..., None], px, 0).astype(np.uint8)
        n_in = int(mask.sum())
        clipped.append((r["image_id"], r["poly_id"],
                        codecs.encode(cut, "raw" if r["fmt"] == "qb"
                                      else r["fmt"]),
                        n_in, w * h,
                        float(cut.sum(dtype=np.int64)) / (n_in * 3)
                        if n_in else 0.0))
        stats.append((r["image_id"], r["fmt"],
                      float(px.sum(dtype=np.int64)) / px.size, px.size))

    def frame(tuples, schema, dtypes):
        want = pd.DataFrame(tuples, columns=[f.name for f in schema])
        return want.astype(dict(zip(want.columns, dtypes)))

    fn = clip.raster_vector_clip(_Capture(), poly_edges)
    out = pd.concat(list(fn(iter([pdf])))).reset_index(drop=True)
    want = frame(clipped, clip.CLIP_SCHEMA,
                 (object, np.int64, object, np.int64, np.int64, np.float64))
    pd.testing.assert_frame_equal(out, want, check_exact=True)
    n_in, n_px = out["n_inside"], out["n_pixels"]
    assert ((n_in > 0) & (n_in < n_px)).sum() >= 6
    off = out["poly_id"].isin([2, 5])
    assert off.sum() >= 6 and (n_in[off] == 0).all()
    assert (out["mean_inside"][off] == 0.0).all()

    out = pd.concat(_run(clip.decode_stats, pdf)).reset_index(drop=True)
    want = frame(stats, clip.DECODE_STATS_SCHEMA,
                 (object, object, np.float64, np.int64))
    pd.testing.assert_frame_equal(out, want, check_exact=True)


def test_scanline_parity_prefix_to_row_end():
    # a prefix of the whole row (c == w) on the batch's last row closes
    # one past the last pixel; on another image's last row it closes at
    # the next image's first pixel
    lon, lat, w, h = 10.0, 20.0, 5, 3
    box = geom.rings_to_edges([np.array(
        [(lon - 1.0, lat - 1.0), (lon - 1.0, lat + 1.0),
         (lon + 1.0, lat + 1.0), (lon + 1.0, lat - 1.0)])])
    y_last = lat + ((h / 2 - (h - 1)) - 0.5) * STEP
    last_row = geom.rings_to_edges([np.array(
        [(lon - 1.0, lat - 1.0), (lon - 1.0, y_last + STEP / 2),
         (lon + 1.0, y_last + STEP / 2), (lon + 1.0, lat - 1.0)])])
    edges = {0: box, 1: last_row}
    mask = geom.scanline_parity([lon], [lat], [w], [h], [0], edges, STEP)
    assert mask.all() and len(mask) == w * h
    mask = geom.scanline_parity([lon], [lat], [w], [h], [1], edges, STEP)
    assert mask.reshape(h, w).tolist() == ([[False] * w] * (h - 1)
                                           + [[True] * w])
    for pids in ([0, 1], [1, 0], [1, 1, 0]):
        n = len(pids)
        _check_batch(np.full(n, lon), np.full(n, lat), np.full(n, w),
                     np.full(n, h), np.array(pids), edges)


def test_span_sums_empty_and_zero_pixel_spans():
    values = np.array([255, 255, 255, 1, 2, 3, 200, 7], dtype=np.uint8)
    sizes = np.array([0, 3, 0, 0, 4, 1, 0], dtype=np.int64)
    got = clip._span_sums(values, sizes)
    assert got.dtype == np.int64
    assert got.tolist() == [0, 765, 0, 0, 206, 7, 0]
    mask = np.array([True, False, True, True], dtype=bool)
    assert clip._span_sums(mask, np.array([2, 0, 2])).tolist() == [1, 0, 2]
    assert clip._span_sums(np.empty(0, np.uint8),
                           np.array([0, 0])).tolist() == [0, 0]
    assert len(clip._span_sums(np.empty(0, np.uint8),
                               np.empty(0, np.int64))) == 0


def _png_level(px, level):
    """An RGB png of ``px`` whose image data is zlib'd at ``level``."""
    h, w, _ = px.shape
    rows = np.pad(px.reshape(h, w * 3), ((0, 0), (1, 0)))
    return (codecs._PNG_SIG
            + codecs._chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2,
                                                 0, 0, 0))
            + codecs._chunk(b"IDAT", zlib.compress(rows.tobytes(), level))
            + codecs._chunk(b"IEND", b""))


def test_whole_images_return_their_stored_blob():
    """A raw or png image whose every pixel is inside its polygon comes
    back as its stored blob, foreign pngs included (palette + Adam7,
    zlib level 1); the same images partly inside are re-encoded, and a
    whole qb image comes back as raw."""
    from tests.test_codecs import _png_build

    rng = np.random.default_rng(5)
    lon, lat, w, h = 10.0, 20.0, 12, 9
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, (h, w, 1)).astype(np.uint8)
    px = pal[idx[:, :, 0]]
    blobs = {"palette_adam7": _png_build(idx, 3, pal, interlace=1),
             "level1": _png_level(px, 1), "own_png": codecs.encode(px, "png"),
             "raw": codecs.encode(px, "raw")}
    assert blobs["palette_adam7"] != blobs["own_png"] != blobs["level1"]
    whole = geom.rings_to_edges([np.array(
        [(lon - 1.0, lat - 1.0), (lon - 1.0, lat + 1.0),
         (lon + 1.0, lat + 1.0), (lon + 1.0, lat - 1.0)])])
    west = geom.rings_to_edges([np.array(
        [(lon - 1.0, lat - 1.0), (lon - 1.0, lat + 1.0),
         (lon, lat + 1.0), (lon, lat - 1.0)])])
    rows = [{"image_id": f"{name}_{p}", "bytes": blob,
             "fmt": "raw" if name == "raw" else "png", "poly_id": p}
            for p in (0, 1) for name, blob in blobs.items()]
    qb = codecs.encode(px, "qb")
    rows.append({"image_id": "qb_0", "bytes": qb, "fmt": "qb", "poly_id": 0})
    pdf = pd.DataFrame(rows).assign(w=w, h=h, lon=lon, lat=lat)
    fn = clip.raster_vector_clip(_Capture(), {0: whole, 1: west})
    out = pd.concat(list(fn(iter([pdf])))).reset_index(drop=True)
    cut = px * _brute_mask(lon, lat, w, h, west).reshape(h, w, 1)
    for r, got in zip(rows, out.itertuples()):
        n_in = got.n_inside
        if r["fmt"] == "qb":
            assert n_in == w * h
            assert got.clipped_bytes == codecs.qb_decode(qb).tobytes()
        elif r["poly_id"] == 0:
            assert n_in == w * h and got.clipped_bytes == r["bytes"]
        else:
            assert 0 < n_in < w * h
            assert got.clipped_bytes == codecs.encode(cut, r["fmt"])
        assert np.array_equal(
            codecs.decode(got.clipped_bytes, w, h,
                          "raw" if r["fmt"] == "qb" else r["fmt"]),
            codecs.qb_decode(qb) if r["fmt"] == "qb"
            else (px if r["poly_id"] == 0 else cut))
