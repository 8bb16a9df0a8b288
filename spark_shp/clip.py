"""Raster↔vector operators over the images table (SURVEY.md §2.B B10–B12).

All Arrow-batched (mapInPandas) — decode, clip, stats, re-encode, and phash
verification happen on numpy pixel arrays inside executor tasks; no per-row
Python at the DataFrame boundary beyond the batch iterator.

Footprint model: an image centered at (lon, lat) spans ``deg_per_px`` degrees
per pixel; pixel (row y, col x) center maps to

    plon = lon + (x - w/2 + 0.5) * deg_per_px
    plat = lat + (h/2 - y - 0.5) * deg_per_px    (north-up)

``raster_vector_clip`` zeroes pixels outside the polygon (even-odd PIP on
the pixel-center lattice by ``geom.scanline_parity``, which gives exactly
the ``geom.crossings`` parity of every pixel center, so clip semantics
match join semantics) and returns per-image coverage + mean of surviving
pixels.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from . import codecs, geom

DEG_PER_PX = 0.01


def clip_pixels(pixels: np.ndarray, lon: float, lat: float,
                edges: np.ndarray,
                deg_per_px: float = DEG_PER_PX) -> tuple[np.ndarray, int]:
    """Zero pixels whose centers fall outside the polygon (edge table).
    Returns (clipped, n_inside)."""
    h, w, _ = pixels.shape
    mask = geom.scanline_parity([lon], [lat], [w], [h], [0], {0: edges},
                                deg_per_px).reshape(h, w)
    out = pixels.copy()
    out[~mask] = 0
    return out, int(mask.sum())


CLIP_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("poly_id", T.LongType()),
    T.StructField("clipped_bytes", T.BinaryType()),
    T.StructField("n_inside", T.LongType()),
    T.StructField("n_pixels", T.LongType()),
    T.StructField("mean_inside", T.DoubleType()),
])


def _shape_groups(pdf: pd.DataFrame) -> list[tuple[tuple, np.ndarray]]:
    """[((w, h, fmt), row indices)] of a batch: the rows of each image
    shape, in row order."""
    ws, hs = pdf["w"].to_numpy(), pdf["h"].to_numpy()
    fmts = pdf["fmt"].to_numpy()
    key = np.zeros(len(pdf), dtype=np.int64)
    for col in (ws, hs, fmts):
        vals, inv = np.unique(col, return_inverse=True)
        key = key * len(vals) + inv
    _, inv, counts = np.unique(key, return_inverse=True, return_counts=True)
    groups = np.split(np.argsort(inv, kind="stable"), np.cumsum(counts)[:-1])
    return [((int(ws[g[0]]), int(hs[g[0]]), fmts[g[0]]), g) for g in groups]


def _decode_one(blob: bytes, image_id, w: int, h: int,
                fmt: str) -> np.ndarray:
    """Decode one image blob to (h, w, 3) uint8. A blob that does not
    decode, or decodes to another size than its row's w/h, raises
    ValueError naming the image."""
    try:
        px = codecs.decode(blob, w, h, fmt)
    except (ValueError, struct.error, zlib.error) as e:
        raise ValueError(f"image {image_id!r}: {fmt} blob does not decode "
                         f"as {w}x{h}x3: {e}") from e
    if px.shape != (h, w, 3):
        raise ValueError(f"image {image_id!r}: {fmt} blob holds "
                         + "x".join(map(str, px.shape))
                         + f" pixels, its row says {w}x{h}x3")
    return px


def _decode_stack_u8(pdf: pd.DataFrame, idx: np.ndarray, w: int, h: int,
                     fmt: str) -> np.ndarray:
    """Decode a same-(w,h,fmt) group into ONE (n,h,w,3) uint8 stack — raw
    images as a single frombuffer over concatenated payloads; compressed
    formats per stream (zlib is inherently per-stream), math on the stack.
    A blob that does not decode to its row's w/h raises ValueError naming
    the image."""
    blobs = pdf["bytes"].to_numpy()
    ids = pdf["image_id"].to_numpy()
    if fmt == "raw":
        raw = [bytes(blobs[i]) for i in idx]
        for i, b in zip(idx, raw):
            if len(b) != w * h * 3:
                raise ValueError(f"image {ids[i]!r}: raw blob holds "
                                 f"{len(b)} bytes, its row says {w}x{h}x3")
        flat = np.frombuffer(b"".join(raw), dtype=np.uint8)
        return flat.reshape(len(idx), h, w, 3)
    out = np.empty((len(idx), h, w, 3), dtype=np.uint8)
    for j, i in enumerate(idx):
        out[j] = _decode_one(bytes(blobs[i]), ids[i], w, h, fmt)
    return out


def raster_vector_clip(images: DataFrame, poly_edges: dict[int, np.ndarray],
                       poly_col: str = "poly_id",
                       deg_per_px: float = DEG_PER_PX) -> DataFrame:
    """B10: images already paired with a poly_id (e.g. via spatial_join) →
    clipped re-encoded bytes + coverage stats. ``poly_edges`` is broadcast.

    Per Arrow batch, one ``geom.scanline_parity`` call masks every pixel
    center of every image against its own polygon; each (w, h, fmt) group
    then decodes as one stack and is clipped on the stack — no per-row
    Python beyond the unavoidable per-stream encode."""
    spark = images.sparkSession
    bc = spark.sparkContext.broadcast(poly_edges)

    def work(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            ids = pdf["image_id"].to_numpy()
            ws = pdf["w"].to_numpy(dtype=np.int64)
            hs = pdf["h"].to_numpy(dtype=np.int64)
            pids = pdf[poly_col].to_numpy(dtype=np.int64)
            masks = geom.scanline_parity(
                pdf["lon"].to_numpy(dtype=np.float64),
                pdf["lat"].to_numpy(dtype=np.float64),
                ws, hs, pids, bc.value, deg_per_px)
            starts = np.cumsum(ws * hs) - ws * hs
            out = [None] * n
            for (w, h, fmt), idx in _shape_groups(pdf):
                px = _decode_stack_u8(pdf, idx, w, h, fmt)   # (k,h,w,3)
                mask = masks[starts[idx][:, None]
                             + np.arange(w * h)].reshape(len(idx), h, w)
                clipped = px.copy()
                clipped[~mask] = 0
                n_in = mask.sum(axis=(1, 2)).astype(np.int64)
                sums = clipped.sum(axis=(1, 2, 3), dtype=np.int64)
                enc_fmt = "raw" if fmt == "qb" else fmt
                for j, i in enumerate(idx):
                    out[i] = (ids[i], int(pids[i]),
                              codecs.encode(clipped[j], enc_fmt),
                              int(n_in[j]), w * h,
                              float(sums[j]) / (n_in[j] * 3)
                              if n_in[j] else 0.0)
            yield pd.DataFrame(out, columns=[f.name for f in CLIP_SCHEMA])

    cols = ["image_id", "bytes", "w", "h", "fmt", "lon", "lat", poly_col]
    return images.select(*cols).mapInPandas(work, CLIP_SCHEMA)


PHASH_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("phash_stored", T.LongType()),
    T.StructField("phash_computed", T.LongType()),
    T.StructField("match", T.BooleanType()),
    T.StructField("hamming", T.IntegerType()),
])


def phash_verify(images: DataFrame) -> DataFrame:
    """B12: recompute the 64-bit perceptual hash from decoded pixels and
    compare to the stored ``phash`` column (hamming ≤ 4 tolerated for the
    lossy 'qb' format; exact for lossless).

    Per Arrow batch every row decodes once and one ``codecs.phash_many``
    call hashes them all. An image narrower or shorter than 8 px has no
    phash and raises ValueError naming it."""

    def work(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["image_id"].to_numpy()
            ws = pdf["w"].to_numpy(dtype=np.int64)
            hs = pdf["h"].to_numpy(dtype=np.int64)
            fmts = pdf["fmt"].to_numpy()
            pixels = [_decode_one(bytes(b), i, w, h, f) for b, i, w, h, f
                      in zip(pdf["bytes"], ids, ws.tolist(), hs.tolist(),
                             fmts)]
            small = np.flatnonzero((ws < 8) | (hs < 8))
            if len(small):
                k = small[0]
                raise ValueError(f"image {ids[k]!r} is {ws[k]}x{hs[k]} px: "
                                 "phash needs at least 8x8")
            computed = codecs.phash_many(pixels)
            stored = pdf["phash"].to_numpy(dtype=np.int64)
            ham = (np.unpackbits((computed ^ stored).view(np.uint8))
                   .reshape(-1, 64).sum(axis=1, dtype=np.int64))
            yield pd.DataFrame({
                "image_id": ids, "phash_stored": stored,
                "phash_computed": computed,
                "match": np.where(np.isin(fmts, ("raw", "png")),
                                  ham == 0, ham <= 4),
                "hamming": ham})

    return (images.select("image_id", "bytes", "w", "h", "fmt", "phash")
            .mapInPandas(work, PHASH_SCHEMA))


DECODE_STATS_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("mean_px", T.DoubleType()),
    T.StructField("bytes_decoded", T.LongType()),
])


def decode_stats(images: DataFrame) -> DataFrame:
    """B11 exercise path: decode every image, emit pixel stats (also the
    kernel the lineage bench uses for bytes-decoded metrics)."""

    def work(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            ids = pdf["image_id"].to_numpy()
            fmts = pdf["fmt"].to_numpy()
            out = [None] * n
            for (w, h, fmt), idx in _shape_groups(pdf):
                px = _decode_stack_u8(pdf, idx, w, h, fmt)
                means = px.mean(axis=(1, 2, 3))
                for j, i in enumerate(idx):
                    out[i] = (ids[i], fmts[i], float(means[j]), h * w * 3)
            yield pd.DataFrame(
                out, columns=[f.name for f in DECODE_STATS_SCHEMA])

    return (images.select("image_id", "bytes", "w", "h", "fmt")
            .mapInPandas(work, DECODE_STATS_SCHEMA))
