"""Raster↔vector operators over the images table (SURVEY.md §2.B B10–B12).

All Arrow-batched (mapInPandas) inside executor tasks. Every row decodes
once, by one decoder (each blob is its own stream); the mask, counts, sums,
hashes and output columns are numpy over the whole batch, so only the
decode and re-encode of each image run per row.

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
from pyspark.sql import DataFrame, types as T

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


def _decode_rows(pdf: pd.DataFrame, ws: np.ndarray,
                 hs: np.ndarray) -> list[np.ndarray]:
    """Every row's blob decoded once to (h, w, 3) uint8, in row order (each
    blob is its own stream). A blob that does not decode, or decodes to
    another size than its row's w/h, raises ValueError naming the image."""
    out = []
    for blob, image_id, w, h, fmt in zip(pdf["bytes"], pdf["image_id"],
                                         ws.tolist(), hs.tolist(), pdf["fmt"]):
        try:
            px = codecs.decode(bytes(blob), w, h, fmt)
        except (ValueError, struct.error, zlib.error) as e:
            raise ValueError(f"image {image_id!r}: {fmt} blob does not "
                             f"decode as {w}x{h}x3: {e}") from e
        if px.shape != (h, w, 3):
            raise ValueError(f"image {image_id!r}: {fmt} blob holds "
                             + "x".join(map(str, px.shape))
                             + f" pixels, its row says {w}x{h}x3")
        out.append(px)
    return out


def _span_sums(values: np.ndarray, sizes: np.ndarray) -> np.ndarray:
    """int64 sums of a flat array over consecutive spans of ``sizes``
    elements: one ``np.add.reduceat`` at the starts of the non-empty spans
    (it would give an empty span the element at its start), 0 for the
    empty ones."""
    out = np.zeros(len(sizes), dtype=np.int64)
    full = sizes > 0
    out[full] = np.add.reduceat(values, (np.cumsum(sizes) - sizes)[full],
                                dtype=np.int64)
    return out


def raster_vector_clip(images: DataFrame, poly_edges: dict[int, np.ndarray],
                       poly_col: str = "poly_id",
                       deg_per_px: float = DEG_PER_PX) -> DataFrame:
    """B10: images already paired with a poly_id (e.g. via spatial_join) →
    clipped bytes + coverage stats. ``poly_edges`` is broadcast.

    ``clipped_bytes`` is the clipped image in the row's format (``qb``
    rows come out as ``raw``). A raw or png image whose every pixel lies
    inside (``n_inside == n_pixels > 0``) keeps its stored blob instead
    of being re-encoded: for raw blobs and this engine's pngs those are
    the bytes a re-encode gives, while a png from another writer (palette,
    gray, RGBA, Adam7, another zlib level) comes back as stored, and still
    decodes to the same RGB pixels. Every row is decoded and checked all
    the same, since the mean needs its pixels.

    Per Arrow batch, one ``geom.scanline_parity`` call masks every pixel
    center of every image against its own polygon; the rows' decoded
    pixels, concatenated flat in the mask's order, are zeroed by it in one
    operation, and ``n_inside`` and the pixel sums are span sums at the
    image offsets. Only decode and re-encode run per row."""
    spark = images.sparkSession
    bc = spark.sparkContext.broadcast(poly_edges)

    def work(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ws = pdf["w"].to_numpy(dtype=np.int64)
            hs = pdf["h"].to_numpy(dtype=np.int64)
            pids = pdf[poly_col].to_numpy(dtype=np.int64)
            mask = geom.scanline_parity(
                pdf["lon"].to_numpy(dtype=np.float64),
                pdf["lat"].to_numpy(dtype=np.float64),
                ws, hs, pids, bc.value, deg_per_px)
            n_px = ws * hs
            px = np.concatenate([p.reshape(-1, 3)
                                 for p in _decode_rows(pdf, ws, hs)])
            px[~mask] = 0
            n_in = _span_sums(mask, n_px)
            sums = _span_sums(px.reshape(-1), 3 * n_px)
            fmts = pdf["fmt"].to_numpy()
            whole = (n_in == n_px) & (n_px > 0) & np.isin(fmts, ("raw", "png"))
            clipped = [blob if keep else
                       codecs.encode(p.reshape(h, w, 3),
                                     "raw" if f == "qb" else f)
                       for blob, keep, p, w, h, f in zip(
                           pdf["bytes"], whole.tolist(),
                           np.split(px, np.cumsum(n_px)[:-1]), ws.tolist(),
                           hs.tolist(), fmts)]
            mean = np.divide(sums, 3 * n_in, out=np.zeros(len(pdf)),
                             where=n_in > 0)
            yield pd.DataFrame({
                "image_id": pdf["image_id"].to_numpy(), "poly_id": pids,
                "clipped_bytes": clipped, "n_inside": n_in, "n_pixels": n_px,
                "mean_inside": mean}, copy=False)

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
            pixels = _decode_rows(pdf, ws, hs)
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
                "hamming": ham}, copy=False)

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
    kernel the lineage bench uses for bytes-decoded metrics).

    Per Arrow batch each row decodes once, and the pixel sums are span
    sums over the batch's decoded bytes."""

    def work(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ws = pdf["w"].to_numpy(dtype=np.int64)
            hs = pdf["h"].to_numpy(dtype=np.int64)
            size = 3 * ws * hs
            sums = _span_sums(np.concatenate(
                [p.reshape(-1) for p in _decode_rows(pdf, ws, hs)]), size)
            yield pd.DataFrame({
                "image_id": pdf["image_id"].to_numpy(),
                "fmt": pdf["fmt"].to_numpy(), "mean_px": sums / size,
                "bytes_decoded": size}, copy=False)

    return (images.select("image_id", "bytes", "w", "h", "fmt")
            .mapInPandas(work, DECODE_STATS_SCHEMA))
