"""Image codecs + perceptual hash (SURVEY.md §2.B B10–B12, FIXTURES.md §1).

No PIL/GDAL in this environment [VERIFIED in SURVEY §0], so the three formats
are fully self-implemented on numpy + stdlib zlib:

  * ``raw``  — C-order uint8 RGB bytes, lossless.
  * ``png``  — real RFC-2083 PNG (8-bit RGB, filter 0 rows, zlib IDAT),
               lossless; decoder handles all five standard row filters so it
               can read PNGs from other writers too, and rejects image data
               whose inflated length does not fit its header.
  * ``qb``   — quantized-lossy: per-channel ``q = p // 4`` packed tight,
               reconstructed as ``q*4 + 2``; worst-case MSE ≤ 2.5 →
               PSNR ≥ 10·log10(255²/2.5) ≈ 44.2 dB ≥ 40 dB (BASELINE.json
               invariant), property-tested.

phash (FIXTURES.md §1): 64-bit average-hash — grayscale = channel mean,
8×8 block-mean downsample over the top-left 8·⌊h/8⌋ × 8·⌊w/8⌋ crop, bit b
set iff block mean > global mean of the 64 block means; bits packed
MSB-first (bit 0 of the grid = most significant), folded to signed int64.
An image narrower or shorter than 8 px has no 8×8 grid and raises
ValueError.  ``phash_many`` evaluates the comparison in integers: with S_b
the sum of the channel sums over block b (m = ⌊h/8⌋·⌊w/8⌋ pixels), block
mean > global mean iff 64·S_b > ΣS.  That is the definition computed in
float64 (channel mean /3, block mean /m, mean of the 64), which rounds:
each block mean G_b carries a relative error ≤ γ_(m+1) and their mean M
≤ γ_(m+64), γ_k = k·2⁻⁵³/(1 − k·2⁻⁵³) (every term is non-negative, and
/64 is exact), so the float bit can differ from the exact one only where
|G_b − M| ≤ γ_(m+64)·(G_b + M), i.e. times 192·m where
|64·S_b − ΣS| ≤ γ_(m+64)·(64·S_b + ΣS).  An image
with any such margin (always so for an exact tie, 64·S_b = ΣS, whose exact
bit is 0 and whose float bit goes either way) is hashed in float64, so
``phash`` equals the float definition bit for bit.  Up to 2048 px a side
the bound is below 1, so only exact ties fall back.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def png_encode(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → PNG bytes (color type 2, bit depth 8, filter 0)."""
    p = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, _ = p.shape
    raw = np.zeros((h, w * 3 + 1), dtype=np.uint8)
    raw[:, 1:] = p.reshape(h, w * 3)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
            + _chunk(b"IEND", b""))


def _unfilter(raw: np.ndarray, bpp: int = 3) -> np.ndarray:
    """Undo PNG row filters. raw: (h, 1 + nbytes) uint8, each row's filter
    byte first; ``bpp`` is the bytes-per-pixel the Sub/Average/Paeth
    left-neighbor offset uses. None (0) rows, the only ones
    ``png_encode`` writes, are one whole-array copy; every other row is
    undone in turn, top to bottom."""
    filt = raw[:, 0]
    if (filt > 4).any():
        raise ValueError(f"unknown PNG filter {int(filt.max())}")
    out = raw[:, 1:].copy()
    zero = np.zeros(out.shape[1], dtype=np.uint8)
    for y in np.flatnonzero(filt).tolist():
        prev = out[y - 1] if y else zero
        if filt[y] == 2:
            out[y] += prev
        else:
            out[y] = _undo_left_row(int(filt[y]), out[y], prev, bpp)
    return out


def _undo_left_row(f: int, line: np.ndarray, prev: np.ndarray,
                   bpp: int) -> np.ndarray:
    """One Sub (1), Average (3) or Paeth (4) row, byte by byte: each byte
    depends on the decoded byte ``bpp`` to its left."""
    line, prev = line.astype(np.int32), prev.astype(np.int32)
    res = np.zeros(len(line), dtype=np.int32)
    for i in range(len(line)):
        a = res[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if f == 1:
            res[i] = (line[i] + a) & 0xFF
        elif f == 3:
            res[i] = (line[i] + ((a + b) >> 1)) & 0xFF
        else:
            pp = a + b - c
            pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            res[i] = (line[i] + pred) & 0xFF
    return res.astype(np.uint8)


# channel bytes per pixel per PNG color type (8-bit depth)
_PNG_BPP = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 pass grid: (x0, y0, dx, dy)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def png_decode(data: bytes) -> np.ndarray:
    """PNG → (h, w, 3) uint8 RGB. Decodes every 8-bit color type real
    PNGs use — grayscale (0), RGB (2), palette (3, via PLTE), gray+alpha
    (4) and RGBA (6, alpha dropped — the catalog schema is RGB) — with
    all five row filters and both interlace methods (none / Adam7).
    16-bit depth raises (rare in the wild; halving would be lossy-silent,
    which the codec family bans)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = bytearray()
    plte = None
    interlace = 0
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload[:13])
            if depth != 8:
                raise ValueError(f"only 8-bit PNGs supported (depth {depth})")
            if ctype not in _PNG_BPP:
                raise ValueError(f"unsupported PNG color type {ctype}")
            if interlace not in (0, 1):
                raise ValueError(f"unknown PNG interlace method {interlace}")
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG has no IHDR")
    bpp = _PNG_BPP[ctype]
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    # (rows, columns) of each pass; a pass without both is not stored
    passes = [((h - y0 + dy - 1) // dy, (w - x0 + dx - 1) // dx)
              for x0, y0, dx, dy in (_ADAM7 if interlace else [(0, 0, 1, 1)])]
    need = sum(ph * (1 + pw * bpp) for ph, pw in passes if pw)
    if len(raw) != need:
        raise ValueError(f"PNG image data inflates to {len(raw)} bytes; a "
                         f"{w}x{h} image of {bpp} bytes per pixel needs "
                         f"{need}")
    if interlace == 0:
        px = _unfilter(raw.reshape(h, 1 + w * bpp), bpp).reshape(h, w, bpp)
    else:
        px = np.zeros((h, w, bpp), dtype=np.uint8)
        off = 0
        for (x0, y0, dx, dy), (ph, pw) in zip(_ADAM7, passes):
            if not (ph and pw):
                continue
            n = ph * (1 + pw * bpp)
            sub = _unfilter(raw[off:off + n].reshape(ph, 1 + pw * bpp), bpp)
            px[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
            off += n
    if ctype == 2:
        return px
    if ctype == 0:
        return np.repeat(px, 3, axis=2)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        if px.max() >= len(plte):
            raise ValueError(f"palette PNG index {px.max()} is past its "
                             f"{len(plte)}-entry PLTE")
        return plte[px[:, :, 0]]
    if ctype == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3]                    # 6: RGBA → drop alpha


def qb_encode(pixels: np.ndarray) -> bytes:
    """Quantize step 4 (→ 6 bits/channel, stored 1 byte/channel, zlib'd)."""
    q = (np.ascontiguousarray(pixels, dtype=np.uint8) >> 2).astype(np.uint8)
    h, w, _ = pixels.shape
    return struct.pack(">II", w, h) + zlib.compress(q.tobytes(), 6)


def qb_decode(data: bytes) -> np.ndarray:
    w, h = struct.unpack(">II", data[:8])
    q = np.frombuffer(zlib.decompress(data[8:]), dtype=np.uint8)
    return (q.reshape(h, w, 3) << 2) + 2


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return np.ascontiguousarray(pixels, dtype=np.uint8).tobytes()
    if fmt == "png":
        return png_encode(pixels)
    if fmt == "qb":
        return qb_encode(pixels)
    if fmt == "jpg":
        from . import jpeg
        return jpeg.jpeg_encode(pixels)
    raise ValueError(f"unknown image format {fmt!r}")


def decode(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """→ (h, w, 3) uint8."""
    if fmt == "raw":
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "png":
        return png_decode(data)
    if fmt == "qb":
        return qb_decode(data)
    if fmt == "jpg":
        from . import jpeg
        return jpeg.jpeg_decode(data)
    raise ValueError(f"unknown image format {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0 ** 2 / mse))


def phash(pixels: np.ndarray) -> int:
    """64-bit average-hash of an (h, w, 3) uint8 image → signed int64."""
    return int(phash_many([pixels])[0])


def phash_many(pixels) -> np.ndarray:
    """64-bit average-hash of each (h, w, 3) uint8 image of ``pixels`` (a
    sequence of images, or an (n, h, w, 3) stack) → int64[n].

    One reshape-sum per image gives its integer 8x8 block sums S; bit b is
    set iff 64·S_b > ΣS, which is the float definition's comparison
    evaluated exactly. An image with a margin |64·S_b − ΣS| within the
    float definition's rounding bound is hashed by that definition
    instead (see the module docstring), so every hash equals it."""
    n = len(pixels)
    sums = np.empty((n, 64), dtype=np.int64)
    block = np.empty((n, 1), dtype=np.int64)
    for j, px in enumerate(pixels):
        h, w = px.shape[:2]
        bh, bw = h // 8, w // 8
        if not (bh and bw):
            raise ValueError(f"image {j} is {w}x{h} px: phash needs at "
                             "least 8x8")
        # the rows of each block row in int32 (bh * 255 fits), then the
        # 8 column blocks in int64
        sums[j] = (px[:8 * bh, :8 * bw].reshape(8, bh, 8, 3 * bw)
                   .sum(axis=1, dtype=np.int32)
                   .sum(axis=2, dtype=np.int64).ravel())
        block[j] = bh * bw
    total = sums.sum(axis=1, keepdims=True)
    margin = 64 * sums - total
    bits = margin > 0
    # 2·(m + 64)·2^-53 ≥ γ_(m+64), with room for the rounding of tol itself
    tol = (block + 64) * 2.0 ** -52 * (64 * sums + total)
    for j in np.flatnonzero((np.abs(margin) <= tol).any(axis=1)):
        bits[j] = _phash_bits_float(pixels[j])
    return (np.packbits(bits, axis=1).view(">u8").ravel()
            .astype(np.uint64).view(np.int64))


def _phash_bits_float(px: np.ndarray) -> np.ndarray:
    """The 64 bits of the float64 definition: block means of the channel
    mean, each against the mean of the 64 block means."""
    gray = np.asarray(px, dtype=np.float64).mean(axis=2)
    h, w = gray.shape
    hh, ww = (h // 8) * 8, (w // 8) * 8
    g = gray[:hh, :ww].reshape(8, hh // 8, 8, ww // 8).mean(axis=(1, 3))
    return (g > g.mean()).ravel()
