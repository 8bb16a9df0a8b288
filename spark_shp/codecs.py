"""Image codecs + perceptual hash (SURVEY.md §2.B B10–B12, FIXTURES.md §1).

No PIL/GDAL in this environment [VERIFIED in SURVEY §0], so the three formats
are fully self-implemented on numpy + stdlib zlib:

  * ``raw``  — C-order uint8 RGB bytes, lossless.
  * ``png``  — real RFC-2083 PNG (8-bit RGB, filter 0 rows, zlib IDAT),
               lossless; decoder handles all five standard row filters so it
               can read PNGs from other writers too.
  * ``qb``   — quantized-lossy: per-channel ``q = p // 4`` packed tight,
               reconstructed as ``q*4 + 2``; worst-case MSE ≤ 2.5 →
               PSNR ≥ 10·log10(255²/2.5) ≈ 44.2 dB ≥ 40 dB (BASELINE.json
               invariant), property-tested.

phash (FIXTURES.md §1): 64-bit average-hash — grayscale = channel mean,
8×8 block-mean downsample, bit b set iff block mean > global mean of the 64
block means; bits packed MSB-first (bit 0 of the grid = most significant),
folded to signed int64.  Deterministic, pure numpy.
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


def _unfilter(raw: np.ndarray, h: int, nbytes: int,
              bpp: int = 3) -> np.ndarray:
    """Undo PNG row filters. raw: (h, 1 + nbytes) uint8; ``bpp`` is the
    bytes-per-pixel the Sub/Average/Paeth left-neighbor offset uses."""
    out = np.zeros((h, nbytes), dtype=np.uint8)
    for y in range(h):
        f = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(nbytes,
                                                              np.int32)
        if f == 0:
            res = line
        elif f == 2:  # Up
            res = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need left-to-right recurrence
            res = np.zeros(nbytes, dtype=np.int32)
            for i in range(nbytes):
                a = res[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if f == 1:
                    res[i] = (line[i] + a) & 0xFF
                elif f == 3:
                    res[i] = (line[i] + ((a + b) >> 1)) & 0xFF
                elif f == 4:
                    pp = a + b - c
                    pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    res[i] = (line[i] + pred) & 0xFF
                else:
                    raise ValueError(f"unknown PNG filter {f}")
        out[y] = res.astype(np.uint8)
    return out


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
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    bpp = _PNG_BPP[ctype]
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if interlace == 0:
        px = _unfilter(raw.reshape(h, w * bpp + 1), h, w * bpp,
                       bpp).reshape(h, w, bpp)
    elif interlace == 1:
        px = np.zeros((h, w, bpp), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            n = ph * (1 + pw * bpp)
            sub = _unfilter(raw[off:off + n].reshape(ph, pw * bpp + 1),
                            ph, pw * bpp, bpp)
            px[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
            off += n
    else:
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if ctype == 2:
        return px
    if ctype == 0:
        return np.repeat(px, 3, axis=2)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
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
    gray = np.asarray(pixels, dtype=np.float64).mean(axis=2)
    h, w = gray.shape
    # 8×8 block means; h/w are multiples of 8 for fixture images, but handle
    # ragged edges by truncating to the largest multiple of 8.
    hh, ww = (h // 8) * 8, (w // 8) * 8
    g = gray[:hh, :ww].reshape(8, hh // 8, 8, ww // 8).mean(axis=(1, 3))
    bits = (g > g.mean()).ravel()
    val = np.uint64(0)
    for b in bits:
        val = (val << np.uint64(1)) | np.uint64(bool(b))
    return int(val.astype(np.int64))
