"""End-to-end images pipeline: distributed synthesis (mapInArrow), decode
invariants (BASELINE.json: allclose lossless / PSNR≥40dB lossy / caption
equality), phash verification, clip, features, resize."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_shp import clip, codecs, fixtures, geom, multimodal

N = 240


@pytest.fixture(scope="module")
def images(spark):
    return fixtures.images_df(spark, N, partitions=8).cache()


def test_images_schema_and_determinism(images):
    rows = {r.image_id: r for r in images.collect()}
    assert len(rows) == N
    for i in (0, 1, 2, 57):
        want = fixtures.image_row(i)
        got = rows[f"img{i:012d}"]
        assert bytes(got.bytes) == want["bytes"]
        assert got.caption == want["caption"]
        assert got.phash == want["phash"]
        assert (got.w, got.h, got.fmt) == (want["w"], want["h"], want["fmt"])


def test_per_row_invariants(images):
    """decoded-pixel allclose (lossless exact, lossy PSNR ≥ 40 dB) +
    caption equality — the BASELINE.json per-row invariant."""
    for r in images.limit(60).collect():
        i = int(r.image_id[3:])
        truth = fixtures.image_pixels(i, r.w, r.h)
        dec = codecs.decode(bytes(r.bytes), r.w, r.h, r.fmt)
        if r.fmt in ("raw", "png"):
            assert np.array_equal(dec, truth)
        else:
            assert codecs.psnr(truth, dec) >= 40.0
        assert r.caption == fixtures.image_row(i)["caption"]


def test_phash_verify_all_match(spark, images):
    out = clip.phash_verify(images)
    bad = out.where(~F.col("match")).count()
    assert bad == 0
    exact = out.join(images.select("image_id", "fmt"), "image_id") \
               .where(F.col("fmt") != "qb").where(F.col("hamming") != 0)
    assert exact.count() == 0


def test_decode_stats(images):
    out = clip.decode_stats(images).collect()
    assert len(out) == N
    for r in out[:5]:
        assert 0.0 < r.mean_px < 255.0
        assert r.bytes_decoded > 0


def test_raster_vector_clip(spark, images):
    """Clip vs independently computed pixel-lattice PIP, with the images
    where the fixture puts them (off fence 0) and moved onto fence 0's
    outer and hole west edges."""
    edges = {0: geom.rings_to_edges(fixtures.fence_rings(0))}
    cx, cy, hx, _ = fixtures.fence_params(0)
    moved = (F.when(F.col("h") % 32 == 0, cx - hx).otherwise(cx - hx / 2)
             + F.col("w") / 16 * 0.003)
    for place in ("fixture", "fence edges"):
        subset = (images.limit(6)
                  .withColumn("poly_id", F.lit(0)))
        if place != "fixture":
            subset = (subset.withColumn("lon", moved)
                      .withColumn("lat", cy + F.col("h") / 16 * 0.004))
        out = {r.image_id: r for r in
               clip.raster_vector_clip(subset, edges).collect()}
        for r0 in subset.collect():
            got = out[r0.image_id]
            clipped, n_in = clip.clip_pixels(
                codecs.decode(bytes(r0.bytes), r0.w, r0.h, r0.fmt),
                r0.lon, r0.lat, edges[0])
            assert got.n_inside == n_in
            # the operator and clip_pixels share one kernel: check the
            # count against the brute-force PIP of the pixel-centre
            # meshgrid too
            gx, gy = np.meshgrid(
                r0.lon + (np.arange(r0.w) - r0.w / 2 + 0.5) * clip.DEG_PER_PX,
                r0.lat + (r0.h / 2 - np.arange(r0.h) - 0.5) * clip.DEG_PER_PX)
            assert got.n_inside == int(geom.points_in_polygon(
                gx.ravel(), gy.ravel(), fixtures.fence_rings(0)).sum())
            assert got.n_pixels == r0.w * r0.h
            # zeroed-outside invariant
            fmt = "raw" if r0.fmt == "qb" else r0.fmt
            dec = codecs.decode(bytes(got.clipped_bytes), r0.w, r0.h, fmt)
            assert np.array_equal(dec, clipped)
            if place != "fixture":
                assert 0 < got.n_inside < got.n_pixels


def test_image_features_and_resize(spark, images):
    feats = multimodal.image_features(images.limit(10)).collect()
    for r in feats:
        assert len(r.mean_rgb) == 3 and len(r.thumb64) == 64
        assert 0.0 <= min(r.thumb64) and max(r.thumb64) <= 1.0
    rs = multimodal.resize_images(images.limit(4), 8, 8).collect()
    for r in rs:
        assert (r.w, r.h, r.fmt) == (8, 8, "raw")
        assert len(bytes(r.bytes)) == 8 * 8 * 3


def test_audio_stub_plumbing(spark):
    import pandas as pd
    media = spark.createDataFrame(pd.DataFrame({
        "media_id": ["a", "b"],
        "bytes": [bytes(range(64)), b"\x00" * 32]}))
    out = {r.media_id: r for r in multimodal.audio_features(media).collect()}
    assert out["a"].n_samples == 32 and out["b"].rms == 0.0
    with pytest.raises(NotImplementedError):
        multimodal._sample_video_frames(b"", 3)
