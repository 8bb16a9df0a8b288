"""Baseline JPEG codec (spark_shp/jpeg.py) — spec-grounded pins.

No independent decoder exists in this environment, so correctness rests
on (a) ITU-T T.81-derivable exact cases (uniform-DC, Annex K tables,
zigzag involution, EXTEND), (b) encoder↔decoder round-trips across
modes/dims/restart intervals, and (c) structural header checks a foreign
decoder would rely on."""

import struct

import numpy as np
import pytest

from spark_shp import codecs, jpeg


def _smooth(w, h, seed=0):
    y, x = np.mgrid[0:h, 0:w].astype(np.float64)
    lum = 128.0 + 80.0 * np.sin(x / 6.0 + seed) * np.cos(y / 5.0)
    c = 20.0 * np.sin(x / 17.0 - seed)
    img = np.stack([lum + c, lum, lum - c], axis=2)
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


def test_zigzag_is_a_permutation_and_involution():
    assert sorted(jpeg._ZIGZAG.tolist()) == list(range(64))
    assert np.array_equal(np.arange(64)[jpeg._ZIGZAG][jpeg._UNZIGZAG],
                          np.arange(64))


def test_extend_matches_t81_examples():
    # T.81 F.12: t-bit value below 2^(t-1) is negative
    assert jpeg._extend(0, 1) == -1 and jpeg._extend(1, 1) == 1
    assert jpeg._extend(0b011, 3) == -4 and jpeg._extend(0b100, 3) == 4
    assert jpeg._extend(0b111, 3) == 7


def test_quality50_is_exactly_annex_k():
    assert np.array_equal(jpeg.quality_scale(jpeg._QT_LUMA, 50),
                          jpeg._QT_LUMA)
    assert np.array_equal(jpeg.quality_scale(jpeg._QT_CHROMA, 50),
                          jpeg._QT_CHROMA)
    # q100 → all-ones (lossless quantization), monotone in quality
    assert jpeg.quality_scale(jpeg._QT_LUMA, 100).max() == 1
    assert (jpeg.quality_scale(jpeg._QT_LUMA, 10)
            >= jpeg.quality_scale(jpeg._QT_LUMA, 90)).all()


def test_uniform_image_roundtrips_exactly():
    """A uniform block is pure DC; at q90 the DC quantizer (3) divides
    the 8·(v−128) DC coefficient with error < half a quantization step
    → decoded value within 1 count, and for v=77 exactly equal."""
    u = np.full((16, 24, 3), 77, dtype=np.uint8)
    dec = jpeg.jpeg_decode(jpeg.jpeg_encode(u, quality=90))
    assert int(np.abs(dec.astype(int) - 77).max()) <= 1


def test_roundtrip_psnr_444_and_420():
    img = _smooth(64, 48, seed=3)
    for ss, floor in ((False, 44.0), (True, 40.0)):
        dec = jpeg.jpeg_decode(jpeg.jpeg_encode(img, 90, subsample=ss))
        assert dec.shape == img.shape
        assert codecs.psnr(img, dec) >= floor


def test_odd_dimensions_pad_and_crop():
    for w, h in ((53, 37), (8, 8), (9, 17), (31, 64)):
        img = _smooth(w, h, seed=w + h)
        for ss in (False, True):
            dec = jpeg.jpeg_decode(jpeg.jpeg_encode(img, 90, subsample=ss))
            assert dec.shape == (h, w, 3)
            assert codecs.psnr(img, dec) >= 38.0


def test_restart_markers_decode_identically():
    img = _smooth(80, 48, seed=1)
    for ss in (False, True):
        ref = jpeg.jpeg_decode(jpeg.jpeg_encode(img, 90, subsample=ss))
        for r in (1, 2, 5):
            blob = jpeg.jpeg_encode(img, 90, subsample=ss, restart_mcu=r)
            assert b"\xFF\xDD" in blob          # DRI segment present
            assert np.array_equal(jpeg.jpeg_decode(blob), ref)


def test_header_structure():
    img = _smooth(40, 24)
    blob = jpeg.jpeg_encode(img, 85)
    assert blob[:2] == b"\xFF\xD8" and blob[-2:] == b"\xFF\xD9"
    assert blob[2:4] == b"\xFF\xE0" and blob[6:11] == b"JFIF\x00"
    i = blob.index(b"\xFF\xC0")
    prec, h, w, nc = struct.unpack(">BHHB", blob[i + 4:i + 10])
    assert (prec, h, w, nc) == (8, 24, 40, 3)
    assert blob.count(b"\xFF\xC4") == 4         # four Huffman tables
    assert blob.count(b"\xFF\xDB") == 2         # two quant tables


def test_huffman_tables_are_valid_prefix_codes():
    for bits, vals in ((jpeg._DC_LUMA_BITS, jpeg._DC_LUMA_VALS),
                       (jpeg._DC_CHROMA_BITS, jpeg._DC_CHROMA_VALS),
                       (jpeg._AC_LUMA_BITS, jpeg._AC_LUMA_VALS),
                       (jpeg._AC_CHROMA_BITS, jpeg._AC_CHROMA_VALS)):
        assert sum(bits) == len(vals)
        codes = jpeg._canonical_codes(bits, vals)
        seen = set()
        for code, length in codes.values():
            assert code < (1 << length)
            # prefix property: no code is a prefix of another
            for c2, l2 in seen:
                lo = min(length, l2)
                assert (code >> (length - lo)) != (c2 >> (l2 - lo))
            seen.add((code, length))


def test_grayscale_single_component_scan():
    """Hand-assemble a 1-component baseline stream from the module's own
    primitives — exercises the grayscale decode branch (Y replicated to
    RGB)."""
    y, x = np.mgrid[0:16, 0:16].astype(np.float64)
    plane = np.clip(128.0 + 90.0 * np.sin(x / 5.0) * np.cos(y / 4.0),
                    0, 255).round()
    qt = jpeg.quality_scale(jpeg._QT_LUMA, 90)
    zz = jpeg._component_blocks(plane, qt)
    out = bytearray(b"\xFF\xD8")
    out += jpeg._marker(
        0xDB, b"\x00" + bytes(qt.reshape(64)[jpeg._ZIGZAG]
                              .astype(np.uint8)))
    out += jpeg._marker(0xC0, struct.pack(">BHHB", 8, 16, 16, 1)
                        + bytes([1, 0x11, 0]))
    out += jpeg._marker(0xC4, b"\x00" + bytes(jpeg._DC_LUMA_BITS)
                        + bytes(jpeg._DC_LUMA_VALS))
    out += jpeg._marker(0xC4, b"\x10" + bytes(jpeg._AC_LUMA_BITS)
                        + bytes(jpeg._AC_LUMA_VALS))
    out += jpeg._marker(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    wr = jpeg._BitWriter()
    jpeg._encode_blocks(wr,
                        zz,
                        jpeg._canonical_codes(jpeg._DC_LUMA_BITS,
                                              jpeg._DC_LUMA_VALS),
                        jpeg._canonical_codes(jpeg._AC_LUMA_BITS,
                                              jpeg._AC_LUMA_VALS), 0)
    wr.flush()
    out += wr.out + b"\xFF\xD9"
    dec = jpeg.jpeg_decode(bytes(out))
    assert dec.shape == (16, 16, 3)
    assert np.array_equal(dec[..., 0], dec[..., 1])
    assert np.abs(dec[..., 0].astype(float) - plane).mean() < 4.0


def test_error_paths():
    with pytest.raises(ValueError):
        jpeg.jpeg_decode(b"\x00\x01not a jpeg")
    img = _smooth(16, 16)
    blob = bytearray(jpeg.jpeg_encode(img, 90))
    i = blob.index(b"\xFF\xC0")
    blob[i + 1] = 0xC2                          # pretend progressive
    with pytest.raises(ValueError, match="non-baseline"):
        jpeg.jpeg_decode(bytes(blob))


def test_codecs_dispatch_jpg():
    img = _smooth(32, 32, seed=9)
    blob = codecs.encode(img, "jpg")
    dec = codecs.decode(blob, 32, 32, "jpg")
    assert dec.shape == (32, 32, 3)
    assert codecs.psnr(img, dec) >= 40.0


def test_no_trailing_restart_marker():
    """ADVICE r4 #4: RSTn separates intervals — when the MCU count is
    divisible by restart_mcu there must be no RST marker after the final
    MCU (strict foreign decoders reject trailing RSTs)."""
    img = _smooth(32, 32, seed=7)           # 4:4:4 -> 16 MCUs; 4:2:0 -> 4
    for ss, n_mcu in ((False, 16), (True, 4)):
        for r in (1, 2, 4):
            assert n_mcu % r == 0
            blob = jpeg.jpeg_encode(img, 90, subsample=ss, restart_mcu=r)
            scan = blob[blob.index(b"\xFF\xDA"):-2]
            # last marker before EOI must not be an RSTn
            rst_positions = [i for i in range(len(scan) - 1)
                             if scan[i] == 0xFF
                             and 0xD0 <= scan[i + 1] <= 0xD7]
            assert len(rst_positions) == n_mcu // r - 1
            dec = jpeg.jpeg_decode(blob)
            ref = jpeg.jpeg_decode(jpeg.jpeg_encode(img, 90, subsample=ss))
            assert np.array_equal(dec, ref)


def test_jpeg_dims_helper():
    img = _smooth(56, 24, seed=3)
    blob = jpeg.jpeg_encode(img, 85)
    assert jpeg.jpeg_dims(blob) == (24, 56)
    with pytest.raises(ValueError):
        jpeg.jpeg_dims(b"\x00\x01\x02\x03")


def test_encode_batch_matches_single():
    rng = np.random.default_rng(3)
    imgs = np.clip(rng.normal(128, 40, (12, 24, 40, 3)), 0,
                   255).astype(np.uint8)
    for ss in (False, True):
        for rst in (0, 2):
            batch = jpeg.jpeg_encode_batch(imgs, 85, subsample=ss,
                                           restart_mcu=rst)
            singles = [jpeg.jpeg_encode(im, 85, subsample=ss,
                                        restart_mcu=rst) for im in imgs]
            assert batch == singles


def test_decode_batch_matches_single():
    """Cross-image walker == scalar decoder bit-for-bit, across modes,
    restart intervals, mixed shapes (separate groups) and the scalar
    fallback for sub-min_batch groups."""
    rng = np.random.default_rng(4)
    blobs = []
    for ss in (False, True):
        for rst in (0, 3):
            for i in range(20):
                im = np.clip(rng.normal(128, 45, (32, 40, 3)), 0,
                             255).astype(np.uint8)
                blobs.append(jpeg.jpeg_encode(im, 90, subsample=ss,
                                              restart_mcu=rst))
    for i in range(3):           # below min_batch -> scalar fallback
        im = np.clip(rng.normal(128, 45, (17, 23, 3)), 0,
                     255).astype(np.uint8)
        blobs.append(jpeg.jpeg_encode(im, 85))
    refs = [jpeg.jpeg_decode(b) for b in blobs]
    out = jpeg.jpeg_decode_batch(blobs)
    assert len(out) == len(refs)
    for o, r in zip(out, refs):
        assert np.array_equal(o, r)


def test_decode_batch_surfaces_corrupt_stream():
    rng = np.random.default_rng(6)
    blobs = []
    for i in range(20):
        im = np.clip(rng.normal(128, 45, (32, 40, 3)), 0,
                     255).astype(np.uint8)
        blobs.append(jpeg.jpeg_encode(im, 90))
    # truncate one stream's entropy data mid-scan
    broken = blobs[7][:-40] + b"\xFF\xD9"
    blobs[7] = broken
    with pytest.raises(ValueError):
        jpeg.jpeg_decode_batch(blobs)


def test_decode_batch_grayscale_group():
    """Single-component (grayscale) streams run the batch walker too:
    hand-assemble 24 1-component scans and pin batch == scalar."""
    def gray_blob(seed):
        y, x = np.mgrid[0:16, 0:16].astype(np.float64)
        plane = np.clip(128.0 + 90.0 * np.sin(x / (4 + seed % 3))
                        * np.cos(y / 4.0), 0, 255).round()
        qt = jpeg.quality_scale(jpeg._QT_LUMA, 90)
        zz = jpeg._component_blocks(plane, qt)
        out = bytearray(b"\xFF\xD8")
        out += jpeg._marker(0xDB, b"\x00" + bytes(
            qt.reshape(64)[jpeg._ZIGZAG].astype(np.uint8)))
        out += jpeg._marker(0xC0, struct.pack(">BHHB", 8, 16, 16, 1)
                            + bytes([1, 0x11, 0]))
        out += jpeg._marker(0xC4, b"\x00" + bytes(jpeg._DC_LUMA_BITS)
                            + bytes(jpeg._DC_LUMA_VALS))
        out += jpeg._marker(0xC4, b"\x10" + bytes(jpeg._AC_LUMA_BITS)
                            + bytes(jpeg._AC_LUMA_VALS))
        out += jpeg._marker(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        wr = jpeg._BitWriter()
        jpeg._encode_blocks(
            wr, zz,
            jpeg._canonical_codes(jpeg._DC_LUMA_BITS, jpeg._DC_LUMA_VALS),
            jpeg._canonical_codes(jpeg._AC_LUMA_BITS, jpeg._AC_LUMA_VALS),
            0)
        wr.flush()
        return bytes(out + wr.out + b"\xFF\xD9")

    blobs = [gray_blob(s) for s in range(24)]
    refs = [jpeg.jpeg_decode(b) for b in blobs]
    out = jpeg.jpeg_decode_batch(blobs)
    for o, r in zip(out, refs):
        assert np.array_equal(o, r)
        assert o.shape == (16, 16, 3)       # Y replicated to RGB


def test_decode_batch_keeps_scan_table_bindings_apart():
    """Two stream sets alike in frame, tables and restart cadence but
    binding the chroma components to different Huffman tables in SOS
    must not share one walker run: each decodes as the scalar path does."""
    rng = np.random.default_rng(8)
    qty = jpeg.quality_scale(jpeg._QT_LUMA, 90)
    qtc = jpeg.quality_scale(jpeg._QT_CHROMA, 90)
    head = jpeg._jfif_header(24, 24, qty, qtc, False, 0)
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    assert head.endswith(sos)
    head_luma = head[:-len(sos)] + bytes([3, 1, 0x00, 2, 0x00, 3, 0x00,
                                          0, 63, 0])

    def luma_bound_blob(im):
        ycc = im.astype(np.float64).reshape(-1, 3) @ jpeg._RGB2YCC_T
        planes = [ycc[:, 0].reshape(1, 24, 24),
                  ycc[:, 1].reshape(1, 24, 24) + 128.0,
                  ycc[:, 2].reshape(1, 24, 24) + 128.0]
        zzs = [jpeg._component_blocks(planes[0], qty),
               jpeg._component_blocks(planes[1], qtc),
               jpeg._component_blocks(planes[2], qtc)]
        scan, = jpeg._entropy_encode(
            zzs, [1, 1, 1], [(jpeg._ENC_DC_Y, jpeg._ENC_AC_Y)] * 3, 0, 9)
        return head_luma + scan + b"\xFF\xD9"

    blobs = []
    for i in range(16):
        im = np.clip(rng.normal(128, 45, (24, 24, 3)), 0,
                     255).astype(np.uint8)
        blobs += [jpeg.jpeg_encode(im, 90), luma_bound_blob(im)]
    refs = [jpeg.jpeg_decode(b) for b in blobs]
    out = jpeg.jpeg_decode_batch(blobs)
    for o, r in zip(out, refs):
        assert np.array_equal(o, r)


def test_decode_batch_restart_without_rst_marker_matches_single():
    """A DRI interval with no RST markers in the scan: the scalar path
    resets the DC predictors at each interval and reads on; the walker
    must do the same instead of indexing a segment that is not there."""
    rng = np.random.default_rng(9)
    blobs = []
    for i in range(20):
        im = np.clip(rng.normal(128, 45, (32, 40, 3)), 0,
                     255).astype(np.uint8)
        b = jpeg.jpeg_encode(im, 90)
        k = b.index(b"\xFF\xDA")
        blobs.append(b[:k] + jpeg._marker(0xDD, struct.pack(">H", 8))
                     + b[k:])
    refs = [jpeg.jpeg_decode(b) for b in blobs]
    out = jpeg.jpeg_decode_batch(blobs)
    for o, r in zip(out, refs):
        assert np.array_equal(o, r)


def test_decode_memory_is_bounded_by_the_scan_bytes():
    """A 256x256 quality-95 noise image (about 144 KB of entropy-coded data)
    decodes without one Python int per scan bit (57 MB here). The bound
    follows the two phases: the bit windows (32 B per scan byte plus
    fixed-size build chunks), then, once they are freed, the float IDCT and
    colour planes (about 110 B per pixel). The output matches the
    multi-stream walker, a separate Huffman decoder."""
    import tracemalloc

    i = np.arange(256 * 256 * 3, dtype=np.uint64)
    px = ((i * np.uint64(2654435761) + np.uint64(12345)) % np.uint64(2**32)
          >> np.uint64(24)).astype(np.uint8).reshape(256, 256, 3)
    blob = jpeg.jpeg_encode(px, quality=95)
    scan = len(jpeg._parse_stream(blob)[4])
    assert scan > 100_000           # the scan, not the pixels, is large
    jpeg.jpeg_decode(blob)          # fills the per-table Huffman LUT memo
    tracemalloc.start()
    try:
        out = jpeg.jpeg_decode(blob)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    bound = max(40 * scan, 128 * 256 * 256) + 4e6
    assert peak <= bound, f"peak {peak / 1e6:.1f} MB > {bound / 1e6:.1f} MB"
    assert bound <= 57e6 / 4
    assert np.array_equal(out, jpeg.jpeg_decode_batch([blob], min_batch=1)[0])
