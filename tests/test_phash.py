"""codecs.phash_many / codecs.phash against the float64 definition of the
average hash, kept here as the reference: bit for bit on fixture images
and their qb decodes (ties included), on sizes that are not multiples of
8 and on a 2048x2048 image; images under 8 px raise."""

import numpy as np
import pytest

from spark_shp import codecs, fixtures

# fixture images where a block sum ties the mean exactly (64·S_b = ΣS) and
# the float64 rounding sets the bit: the integer comparison alone differs
TIE_ORIGINALS = (1742, 8334, 11745, 16623, 16883)
TIE_QB = (1393, 3067, 3419, 3819, 17193, 19710)


def _float_phash(px) -> int:
    gray = np.asarray(px, dtype=np.float64).mean(axis=2)
    h, w = gray.shape
    hh, ww = (h // 8) * 8, (w // 8) * 8
    g = gray[:hh, :ww].reshape(8, hh // 8, 8, ww // 8).mean(axis=(1, 3))
    bits = (g > g.mean()).ravel()
    return int(np.packbits(bits).view(">u8")[0].astype(np.uint64)
               .view(np.int64))


def _integer_only_phash(px) -> int:
    h, w, _ = px.shape
    s = (px[:h // 8 * 8, :w // 8 * 8].astype(np.int64).sum(axis=2)
         .reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3)).ravel())
    return int(np.packbits(64 * s > s.sum()).view(">u8")[0]
               .astype(np.uint64).view(np.int64))


def _fixture(i):
    m = fixtures.images_meta(np.array([i]))
    return fixtures.image_pixels(i, int(m["w"][0]), int(m["h"][0]))


def _qb(px):
    return codecs.decode(codecs.encode(px, "qb"), px.shape[1], px.shape[0],
                         "qb")


def _check(images):
    want = [_float_phash(px) for px in images]
    assert codecs.phash_many(images).tolist() == want
    assert [codecs.phash(px) for px in images] == want


def test_phash_many_matches_float_definition_on_fixtures():
    ids = list(range(60)) + list(TIE_ORIGINALS) + list(TIE_QB)
    originals = [_fixture(i) for i in ids]
    decoded = [_qb(px) for px in originals]
    _check(originals + decoded)
    # the tie images are the ones the integer comparison alone gets wrong
    for px in ([_fixture(i) for i in TIE_ORIGINALS]
               + [_qb(_fixture(i)) for i in TIE_QB]):
        assert _integer_only_phash(px) != _float_phash(px)


def test_phash_many_ragged_and_flat_images():
    rng = np.random.default_rng(5)
    images = [rng.integers(0, 256, (h, w, 3), np.uint8)
              for h, w in ((8, 8), (9, 15), (13, 100), (63, 17), (8, 1001),
                           (100, 8), (47, 47))]
    # flat images and a flat block grid: every block ties the mean
    images += [np.full((24, 40, 3), v, np.uint8) for v in (0, 1, 200, 255)]
    images.append(np.tile(rng.integers(0, 256, (3, 5, 3), np.uint8),
                          (8, 8, 1)))
    _check(images)
    stack = np.stack(images[:1] * 3)
    assert codecs.phash_many(stack).tolist() == [_float_phash(images[0])] * 3


def test_phash_many_large_image():
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (2048, 2056, 3), np.uint8)
    px[:1024] //= 2
    _check([px])


def test_phash_rejects_images_under_8px():
    for h, w in ((4, 4), (7, 64), (64, 7), (0, 8)):
        with pytest.raises(ValueError, match="at least 8x8"):
            codecs.phash(np.zeros((h, w, 3), np.uint8))
    with pytest.raises(ValueError, match="image 1 is 4x4"):
        codecs.phash_many([np.zeros((8, 8, 3), np.uint8),
                           np.full((4, 4, 3), 200, np.uint8)])
