"""Seeded input generators.

Every generator is a pure function of the workload seed: the seed picks an
id offset (or an RNG stream), and the program's own fixture formulas turn
ids into rows. The same seed therefore yields byte-identical inputs, and
:func:`checksum` lets a run record that it did.
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np

from spark_shp import codecs, fixtures
from spark_shp.shp import writer

# ids are offset by seed * ID_STRIDE; the fixture hash keys are periodic in
# ~10^6, so seeds 0..999_999 give distinct inputs and every id stays below
# 10^12 (the 12-digit image_id width, and int64-safe in image_pixels)
ID_STRIDE = 1_000_000
SEED_PERIOD = 1_000_000
FP_SCALE = 1e7   # int32 fixed-point footprint: 1e-7 degree ~ 1 cm


def id_offset(seed: int) -> int:
    return (seed % SEED_PERIOD) * ID_STRIDE


def checksum(*arrays) -> str:
    """sha256 over the raw bytes of numpy arrays / bytes objects."""
    h = hashlib.sha256()
    for a in arrays:
        h.update(a if isinstance(a, bytes) else np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# images metadata table (fence_join): full input-hint schema
# ---------------------------------------------------------------------------

def images_meta_df(spark, n: int, offset: int, partitions: int):
    """The images table over ids [offset, offset+n): the full input-hint
    schema, with the footprint stored as int32 fixed-point lon_e7/lat_e7.
    Pure SQL over ``spark.range`` (the fixture's SQL twins of
    ``images_meta``; the bytes column is the 8-byte digest stand-in the
    engine's metadata table uses), so no Python worker runs."""
    m = fixtures.images_meta_sql("id")
    ph = fixtures.mixw_sql("id", 7)
    return spark.range(offset, offset + n, numPartitions=partitions).selectExpr(
        f"{m['image_id']} AS image_id",
        f"UNHEX(LPAD(HEX({ph}), 16, '0')) AS bytes",
        f"{m['w']} AS w", f"{m['h']} AS h", f"{m['fmt']} AS fmt",
        f"CONCAT('synthetic image ', {m['image_id']}) AS caption",
        f"CAST({ph} AS BIGINT) AS phash",
        f"CAST(FLOOR({m['lon']} * {FP_SCALE!r} + 0.5) AS INT) AS lon_e7",
        f"CAST(FLOOR({m['lat']} * {FP_SCALE!r} + 0.5) AS INT) AS lat_e7")


def fixed_point(deg: np.ndarray) -> np.ndarray:
    return np.floor(deg * FP_SCALE + 0.5).astype(np.int32)


def images_footprint_np(n: int, offset: int) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of the stored footprint, decoded to degrees exactly as
    :func:`read_images` decodes it (int32 * 1e-7 in float64)."""
    m = fixtures.images_meta(np.arange(offset, offset + n, dtype=np.int64))
    return (fixed_point(m["lon"]).astype(np.float64) * 1e-7,
            fixed_point(m["lat"]).astype(np.float64) * 1e-7)


def read_images(spark, root: str):
    from spark_shp import iceberg_layout
    return (iceberg_layout.read_table(spark, root)
            .selectExpr("*", "lon_e7 * 1e-7 AS lon", "lat_e7 * 1e-7 AS lat"))


# ---------------------------------------------------------------------------
# images with real pixels (worker_kernels)
# ---------------------------------------------------------------------------

PIXEL_SCHEMA_DDL = ("image_id string, bytes binary, w int, h int, fmt string, "
                    "caption string, phash bigint, lon double, lat double")


def pixel_batch(ids: np.ndarray):
    """Image rows for ``ids``: encoded pixel bytes and the stored phash,
    built from the fixture formulas (an Arrow record batch)."""
    import pyarrow as pa
    m = fixtures.images_meta(ids)
    blobs, hashes, names, fmts, caps = [], [], [], [], []
    for j, i in enumerate(ids.tolist()):
        px = fixtures.image_pixels(i, int(m["w"][j]), int(m["h"][j]))
        fmt = fixtures.FMTS[i % 3]
        blobs.append(codecs.encode(px, fmt))
        hashes.append(codecs.phash(px))
        names.append(f"img{i:012d}")
        fmts.append(fmt)
        caps.append(f"synthetic image {i}")
    return pa.RecordBatch.from_pydict({
        "image_id": pa.array(names, pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "w": pa.array(m["w"], pa.int32()), "h": pa.array(m["h"], pa.int32()),
        "fmt": pa.array(fmts, pa.string()),
        "caption": pa.array(caps, pa.string()),
        "phash": pa.array(hashes, pa.int64()),
        "lon": pa.array(m["lon"], pa.float64()),
        "lat": pa.array(m["lat"], pa.float64())})


def pixel_batches(batches):
    """mapInArrow body: id batches -> image rows."""
    for batch in batches:
        yield pixel_batch(batch.column(0).to_numpy())


def images_pixels_df(spark, n: int, offset: int, partitions: int):
    return (spark.range(offset, offset + n, numPartitions=partitions)
            .mapInArrow(pixel_batches, PIXEL_SCHEMA_DDL))


# ---------------------------------------------------------------------------
# polygon layers: rectangles with holes and second parts
# ---------------------------------------------------------------------------

def rect_rings(cx, cy, hx, hy, hole: bool, part: bool) -> list[np.ndarray]:
    """Rings in file order: outer CW, optional CCW hole, optional 2nd part
    (the fixture's fence shape, at an arbitrary centre and size)."""
    rings = [fixtures._rect_ring(cx, cy, hx, hy, True)]
    if hole:
        rings.append(fixtures._rect_ring(cx, cy, hx / 2, hy / 2, False))
    if part:
        rings.append(fixtures._rect_ring(cx + 4 * hx, cy, hx, hy, True))
    return rings


HOT_POLYS = 3


def big_layer_rings(seed: int, m: int) -> list[list[np.ndarray]]:
    """``m`` seeded polygons; the first ``HOT_POLYS`` sit on the images' hot
    spot so the cell-keyed join sees one dense cell."""
    rng = np.random.default_rng([seed, 11])
    cx = rng.uniform(-170.0, 160.0, m)
    cy = rng.uniform(-75.0, 75.0, m)
    hx = rng.uniform(0.2, 2.0, m)
    hy = rng.uniform(0.2, 2.0, m)
    hot = np.arange(m) < HOT_POLYS
    cx = np.where(hot, fixtures.HOT_LON + rng.uniform(-0.3, 0.3, m), cx)
    cy = np.where(hot, fixtures.HOT_LAT + rng.uniform(-0.3, 0.3, m), cy)
    return [rect_rings(cx[j], cy[j], hx[j], hy[j], j % 4 == 0, j % 8 == 0)
            for j in range(m)]


def polygons_df(spark, rings_by_poly: list[list[np.ndarray]]):
    """Same schema as ``fixtures.fences_df`` (poly_id, coordinates, bbox),
    built from pandas through Arrow, so reading it back (the broadcast
    join collects the layer) needs no Python worker."""
    import pandas as pd
    from pyspark.sql import types as T
    from spark_shp.geom import assemble_rings

    coords, boxes = [], []
    for rings in rings_by_poly:
        coords.append([[r.tolist() for r in poly] for poly in assemble_rings(rings)])
        xs = np.vstack(rings)
        boxes.append({"xmin": float(xs[:, 0].min()), "ymin": float(xs[:, 1].min()),
                      "xmax": float(xs[:, 0].max()), "ymax": float(xs[:, 1].max())})
    schema = T.StructType([
        T.StructField("poly_id", T.LongType()),
        T.StructField("coordinates", T.ArrayType(T.ArrayType(
            T.ArrayType(T.ArrayType(T.DoubleType()))))),
        T.StructField("bbox", T.StructType([
            T.StructField(k, T.DoubleType())
            for k in ("xmin", "ymin", "xmax", "ymax")]))])
    pdf = pd.DataFrame({"poly_id": np.arange(len(coords), dtype=np.int64),
                        "coordinates": coords, "bbox": boxes})
    return spark.createDataFrame(pdf, schema)


def dims_np(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """kNN dimension points: uniform over the map (sparse away from the
    images' hot spot, so some points certify and some need repair)."""
    rng = np.random.default_rng([seed, 13])
    return rng.uniform(-180.0, 180.0, n), rng.uniform(-85.0, 85.0, n)


# ---------------------------------------------------------------------------
# shapefile directory (worker_kernels)
# ---------------------------------------------------------------------------

WEBMERC_R = 6378137.0


def webmerc_forward(lon: np.ndarray, lat: np.ndarray):
    x = np.radians(lon) * WEBMERC_R
    y = np.log(np.tan(np.pi / 4 + np.radians(lat) / 2)) * WEBMERC_R
    return x, y


def point_shp_bytes(x: np.ndarray, y: np.ndarray) -> bytes:
    """Uniform Point .shp in one numpy write. ``shp.writer.write_shp`` builds
    the body by repeated bytes concatenation (quadratic in record count),
    so large point files use this byte-identical layout instead; the tests
    check the two agree."""
    n = len(x)
    rec = np.zeros(n, dtype=[("rec_no", ">i4"), ("len_words", ">i4"),
                             ("shape", "<i4"), ("x", "<f8"), ("y", "<f8")])
    rec["rec_no"] = np.arange(1, n + 1)
    rec["len_words"] = 10
    rec["shape"] = writer.POINT
    rec["x"], rec["y"] = x, y
    body = rec.tobytes()
    header = struct.pack(">i", 9994) + b"\x00" * 20
    header += struct.pack(">i", (100 + len(body)) // 2)
    header += struct.pack("<ii", 1000, writer.POINT)
    header += struct.pack("<4d", float(x.min()), float(y.min()),
                          float(x.max()), float(y.max()))
    header += struct.pack("<4d", 0.0, 0.0, 0.0, 0.0)
    return header + body


def write_shapefile_dir(out: str, seed: int, point_layers: int,
                        points_per_layer: int, poly_layers: int,
                        polys_per_layer: int) -> dict:
    """Write a seeded shapefile directory and return what a reader must
    recover from it: per-point-layer (lon, lat) in degrees and per
    polygon/polyline layer the record count and attribute sums."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 17])
    truth = {"points": {}, "shapes": {}}
    for k in range(point_layers):
        name = f"pts{k:02d}"
        lon = rng.uniform(-179.0, 179.0, points_per_layer)
        lat = rng.uniform(-80.0, 80.0, points_per_layer)
        if k % 3 == 1:          # projected layer: WebMercator metres + .prj
            x, y = webmerc_forward(lon, lat)
            with open(os.path.join(out, name + ".prj"), "w") as f:
                f.write(writer.WEBMERC_WKT)
        else:
            x, y = lon, lat
        with open(os.path.join(out, name + ".shp"), "wb") as f:
            f.write(point_shp_bytes(x, y))
        truth["points"][name] = (lon, lat)
    for k in range(poly_layers):
        name = f"shape{k:02d}"
        gtype = writer.POLYGON if k % 2 == 0 else writer.POLYLINE
        records, rows = [], []
        for r in range(polys_per_layer):
            if r % 10 == 9:
                records.append((writer.NULL, None))
            else:
                cx, cy = rng.uniform(-170, 170), rng.uniform(-75, 75)
                hx, hy = rng.uniform(0.1, 2.0, 2)
                rings = rect_rings(cx, cy, hx, hy, r % 3 == 0, r % 5 == 0)
                records.append((gtype, [r_.tolist() for r_ in rings]))
            rows.append({"NAME": f"{name}_{r}", "VAL": int(rng.integers(0, 10**6))})
        with open(os.path.join(out, name + ".shp"), "wb") as f:
            f.write(writer.write_shp(records, header_type=gtype))
        with open(os.path.join(out, name + ".dbf"), "wb") as f:
            f.write(writer.write_dbf([("NAME", "C", 24, 0), ("VAL", "N", 10, 0)],
                                     rows))
        truth["shapes"][name] = {
            "records": polys_per_layer,
            "nulls": sum(1 for t, _ in records if t == writer.NULL),
            "val_sum": sum(r["VAL"] for r in rows)}
    return truth
