"""Spatial query surface (SURVEY.md §2.B) — driver-oracle-checked.

Points come from the FIXTURES.md §4 spatialization of driver tables (events →
points, nation → rectangle fences) and from the synthetic images table
(FIXTURES.md §1 — the north-rule input, re-derivable row-by-row in SQL).
Every geometry-producing formula has a DuckDB twin, so even the spatial joins
get STRONG value-level oracles (edge-table ray-cast SQL — SURVEY §2.B B6).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql import types as T

from . import cells, fixtures, geom, spatial
from .hashing import u01_sql

LVL = 6          # fence-scale cell level (cells ~5.6°x2.7°)
LVL_FINE = 12    # tile-assignment level for density queries


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _event_points(spark, sf_dir) -> DataFrame:
    return (_t(spark, sf_dir, "events")
            .selectExpr("event_id", "user_id", "event_type", "value",
                        f"{fixtures.EVENT_LON_SQL} AS lon",
                        f"{fixtures.EVENT_LAT_SQL} AS lat"))


EVENT_POINTS_SQL = f"""(
  SELECT event_id, user_id, event_type, value,
         {fixtures.EVENT_LON_SQL} AS lon, {fixtures.EVENT_LAT_SQL} AS lat
  FROM events)"""


def _nation_fences_df(spark, sf_dir) -> DataFrame:
    """Nation rectangle fences as the engine's polygon-layer schema."""
    nk = [r.n_nationkey for r in
          _t(spark, sf_dir, "nation").select("n_nationkey").collect()]
    names = {r.n_nationkey: r.n_name for r in
             _t(spark, sf_dir, "nation").collect()}
    cx, cy, hw = fixtures.nation_fences_np(np.array(sorted(nk)))
    rows = []
    for j, x, y, h in zip(sorted(nk), cx, cy, hw):
        ring = fixtures._rect_ring(float(x), float(y), float(h), float(h), True)
        rows.append((int(j), names[j],
                     [[[list(map(float, p)) for p in ring]]],
                     (float(x - h), float(y - h), float(x + h), float(y + h))))
    schema = T.StructType([
        T.StructField("poly_id", T.LongType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("coordinates", T.ArrayType(T.ArrayType(
            T.ArrayType(T.ArrayType(T.DoubleType()))))),
        T.StructField("bbox", T.StructType(
            [T.StructField(n, T.DoubleType())
             for n in ("xmin", "ymin", "xmax", "ymax")])),
    ])
    return spark.createDataFrame(rows, schema)


# --- B5/B1: tile assignment (pure codegen SQL — no Python in hot path) -------

def q_tile_assign_events(spark, sf_dir):
    pts = _event_points(spark, sf_dir)
    return (spatial.tile_assign(pts, "lon", "lat", LVL_FINE)
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.min("event_id").alias("min_event")))


ORACLE_TILE_ASSIGN = f"""
SELECT {cells.cell_sql('lon', 'lat', LVL_FINE)} AS cell_id,
       COUNT(*) AS n_points, MIN(event_id) AS min_event
FROM {EVENT_POINTS_SQL} e
GROUP BY 1
"""


# --- B2: hierarchy navigation -------------------------------------------------

def q_cell_hierarchy(spark, sf_dir):
    pts = spatial.tile_assign(_event_points(spark, sf_dir), "lon", "lat",
                              LVL_FINE)
    parent = F.expr(cells.cell_parent_sql("cell_id", 4))
    return (pts.withColumn("parent_cell", parent)
            .groupBy("parent_cell")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("cell_id").alias("n_children_seen")))


ORACLE_HIERARCHY = f"""
SELECT {cells.cell_parent_sql(cells.cell_sql('lon', 'lat', LVL_FINE), 4)} AS parent_cell,
       COUNT(*) AS n,
       COUNT(DISTINCT {cells.cell_sql('lon', 'lat', LVL_FINE)}) AS n_children_seen
FROM {EVENT_POINTS_SQL} e
GROUP BY 1
"""


# --- B3: k-ring neighbors (Arrow UDF vs pure-SQL offset oracle) ---------------

def q_cell_ring_sum(spark, sf_dir):
    """Σ of each event cell's valid ring-1 neighbor ids (exercises the
    cell_ring Arrow kernel; deterministic scalar output per event)."""
    pts = spatial.tile_assign(
        _event_points(spark, sf_dir).where(F.col("event_id") % 20 == 0),
        "lon", "lat", LVL)

    @F.pandas_udf(T.LongType())
    def ring_sum(cell: pd.Series) -> pd.Series:
        r = cells.cell_ring(cell.to_numpy(), 1)
        return pd.Series(np.where(r >= 0, r, 0).sum(axis=1))

    return pts.select("event_id",
                      ring_sum(F.col("cell_id")).alias("ring_sum"))


_n = 1 << LVL
ORACLE_RING_SUM = f"""
WITH pts AS (
  SELECT event_id,
         GREATEST(0, LEAST({_n - 1}, CAST(FLOOR((lon + 180.0) / 360.0 * {float(_n)!r}) AS BIGINT))) AS ix,
         GREATEST(0, LEAST({_n - 1}, CAST(FLOOR((lat + 85.0) / 170.0 * {float(_n)!r}) AS BIGINT))) AS iy
  FROM {EVENT_POINTS_SQL} e WHERE event_id % 20 = 0),
nbrs AS (
  SELECT event_id, ix + dx.v AS nx, iy + dy.v AS ny
  FROM pts
  CROSS JOIN (VALUES (-1), (0), (1)) AS dx(v)
  CROSS JOIN (VALUES (-1), (0), (1)) AS dy(v)
  WHERE ix + dx.v BETWEEN 0 AND {_n - 1} AND iy + dy.v BETWEEN 0 AND {_n - 1})
SELECT event_id,
       CAST(SUM({cells.morton_sql('nx', 'ny')} * {1 << cells.LEVEL_BITS} + {LVL}) AS BIGINT) AS ring_sum
FROM nbrs GROUP BY event_id
"""


# --- B4: polygon cover ---------------------------------------------------------

def q_polygon_cover_nations(spark, sf_dir):
    polys = _nation_fences_df(spark, sf_dir)
    cov = spatial.polygon_cover(polys, LVL)
    return (cov.groupBy("poly_id")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.min("cell_id").alias("min_cell"),
                 F.max("cell_id").alias("max_cell"))
            .withColumnRenamed("poly_id", "n_nationkey"))


ORACLE_COVER = f"""
WITH fences AS (
  SELECT n_nationkey,
         {fixtures.NATION_CLON_SQL} AS cx, {fixtures.NATION_CLAT_SQL} AS cy,
         {fixtures.NATION_HALF_SQL} AS hw
  FROM nation),
bounds AS (
  SELECT n_nationkey,
         GREATEST(0, LEAST({_n - 1}, CAST(FLOOR((cx - hw + 180.0) / 360.0 * {float(_n)!r}) AS BIGINT))) AS ix0,
         GREATEST(0, LEAST({_n - 1}, CAST(FLOOR((cx + hw + 180.0) / 360.0 * {float(_n)!r}) AS BIGINT))) AS ix1,
         GREATEST(0, LEAST({_n - 1}, CAST(FLOOR((cy - hw + 85.0) / 170.0 * {float(_n)!r}) AS BIGINT))) AS iy0,
         GREATEST(0, LEAST({_n - 1}, CAST(FLOOR((cy + hw + 85.0) / 170.0 * {float(_n)!r}) AS BIGINT))) AS iy1
  FROM fences),
cover AS (
  SELECT n_nationkey,
         {cells.morton_sql('gx.x', 'gy.y')} * {1 << cells.LEVEL_BITS} + {LVL} AS cell_id
  FROM bounds,
       LATERAL (SELECT UNNEST(GENERATE_SERIES(ix0, ix1)) AS x) gx,
       LATERAL (SELECT UNNEST(GENERATE_SERIES(iy0, iy1)) AS y) gy)
SELECT n_nationkey, COUNT(*) AS n_cells, MIN(cell_id) AS min_cell,
       MAX(cell_id) AS max_cell
FROM cover GROUP BY n_nationkey
"""


# --- B6/B7: exact point-in-polygon join ----------------------------------------

def q_spatial_join_pairs(spark, sf_dir):
    pts = _event_points(spark, sf_dir)
    polys = _nation_fences_df(spark, sf_dir)
    j = spatial.spatial_join(pts, polys, "lon", "lat", level=LVL, broadcast_cover=True)
    return j.select("event_id", F.col("poly_id").alias("n_nationkey"))


ORACLE_SJ_PAIRS = f"""
SELECT e.event_id, g.n_nationkey
FROM {EVENT_POINTS_SQL} e
CROSS JOIN {fixtures.nation_edges_sql()} g
GROUP BY e.event_id, g.n_nationkey, e.lon, e.lat
HAVING SUM({geom.pip_sql('e.lon', 'e.lat')}) % 2 = 1
"""


def q_spatial_join_agg(spark, sf_dir):
    pts = _event_points(spark, sf_dir)
    polys = _nation_fences_df(spark, sf_dir)
    j = spatial.spatial_join(pts, polys, "lon", "lat", level=LVL, broadcast_cover=True)
    j = j.join(F.broadcast(polys.select("poly_id", "n_name")), "poly_id")
    return (j.groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                  .alias("sum_value")))


ORACLE_SJ_AGG = f"""
WITH pairs AS (
  SELECT e.event_id, e.value, g.n_nationkey, MIN(g.n_name) AS n_name
  FROM {EVENT_POINTS_SQL} e
  CROSS JOIN {fixtures.nation_edges_sql()} g
  GROUP BY e.event_id, e.value, g.n_nationkey, e.lon, e.lat
  HAVING SUM({geom.pip_sql('e.lon', 'e.lat')}) % 2 = 1)
SELECT n_name, COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_value
FROM pairs GROUP BY n_name
"""


# --- B8: kNN join ----------------------------------------------------------------

def q_knn_events_nations(spark, sf_dir):
    pts = _event_points(spark, sf_dir).where(F.col("event_id") % 10 == 0)
    n = _t(spark, sf_dir, "nation")
    dims = n.selectExpr("n_nationkey",
                        f"{fixtures.NATION_CLON_SQL} AS dim_lon",
                        f"{fixtures.NATION_CLAT_SQL} AS dim_lat")
    j = spatial.knn_join_broadcast(pts, dims, 3, "lon", "lat",
                                   "dim_lon", "dim_lat", "n_nationkey",
                                   "event_id")
    return j.select("event_id", "n_nationkey", "knn_rank")


def q_knn_events_nations_cells(spark, sf_dir):
    """B8 scale path under the driver gate: identical contract to
    q_knn_events_nations but via the certify-or-repair cell ring
    (knn_join_cells_exact). level=3 / max_ring=1 is DELIBERATELY too
    tight for the plain ring: at sf0.01, 25 of the 1,000 points are
    certified from their ring candidates and the other 975 go to the
    brute-force repair (with max_ring=2, 325 are certified), so the query
    exercises both halves, and the oracle (the same global-kNN SQL as the
    broadcast path) verifies the composition is exactly the global kNN."""
    pts = _event_points(spark, sf_dir).where(F.col("event_id") % 10 == 0)
    n = _t(spark, sf_dir, "nation")
    dims = n.selectExpr("n_nationkey",
                        f"{fixtures.NATION_CLON_SQL} AS dim_lon",
                        f"{fixtures.NATION_CLAT_SQL} AS dim_lat")
    j = spatial.knn_join_cells_exact(pts, dims, 3, "lon", "lat",
                                     "dim_lon", "dim_lat", "n_nationkey",
                                     "event_id", level=3, max_ring=1)
    return j.select("event_id", "n_nationkey", "knn_rank")


ORACLE_KNN = f"""
WITH dims AS (
  SELECT n_nationkey, {fixtures.NATION_CLON_SQL} AS dlon,
         {fixtures.NATION_CLAT_SQL} AS dlat
  FROM nation),
ranked AS (
  SELECT e.event_id, d.n_nationkey,
         ROW_NUMBER() OVER (
           PARTITION BY e.event_id
           ORDER BY (e.lon - d.dlon) * (e.lon - d.dlon)
                  + (e.lat - d.dlat) * (e.lat - d.dlat) ASC,
                    d.n_nationkey ASC) AS knn_rank
  FROM {EVENT_POINTS_SQL} e CROSS JOIN dims d
  WHERE e.event_id % 10 = 0)
SELECT event_id, n_nationkey, knn_rank FROM ranked WHERE knn_rank <= 3
"""


# --- B9: range join ----------------------------------------------------------------

def q_range_join_counts(spark, sf_dir):
    pts = _event_points(spark, sf_dir)
    n = _t(spark, sf_dir, "nation")
    dims = n.selectExpr("n_nationkey",
                        f"{fixtures.NATION_CLON_SQL} AS dim_lon",
                        f"{fixtures.NATION_CLAT_SQL} AS dim_lat")
    j = spatial.range_join(pts, dims, 5.0, "lon", "lat", "dim_lon", "dim_lat")
    return (j.groupBy("n_nationkey")
            .agg(F.count(F.lit(1)).alias("n_within"),
                 F.min("event_id").alias("min_event")))


ORACLE_RANGE = f"""
WITH dims AS (
  SELECT n_nationkey, {fixtures.NATION_CLON_SQL} AS dlon,
         {fixtures.NATION_CLAT_SQL} AS dlat
  FROM nation)
SELECT d.n_nationkey, COUNT(*) AS n_within, MIN(e.event_id) AS min_event
FROM {EVENT_POINTS_SQL} e CROSS JOIN dims d
WHERE (e.lon - d.dlon) * (e.lon - d.dlon)
    + (e.lat - d.dlat) * (e.lat - d.dlat) <= 25.0
GROUP BY d.n_nationkey
"""


# --- images table (FIXTURES §1): tile density + skew + flagship join -------------

N_IMAGES_ORACLE = 3000


def _images_meta_df(spark, n: int, full_schema: bool = True) -> DataFrame:
    """Images table as pure SQL over range — codegen'd.

    full_schema=True yields exactly the input-hint column set
    (image_id:string, bytes:binary, w:int, h:int, fmt:string,
    caption:string, phash:long) plus the derived lon/lat footprint. The
    bytes payload is a compact deterministic stand-in (8-byte digest, the
    sandbox-scale stand-in for real pixels — FIXTURES.md); spatial queries
    never read it, and parquet column pruning makes its presence free for
    them, which is the point at 100 TB: a spatial join over an image table
    must not pay for the pixel column."""
    m = fixtures.images_meta_sql("id")
    cols = [f"{m['image_id']} AS image_id", f"{m['w']} AS w",
            f"{m['h']} AS h", f"{m['fmt']} AS fmt",
            f"{m['lon']} AS lon", f"{m['lat']} AS lat"]
    if full_schema:
        ph = fixtures.mixw_sql("id", 7)
        cols += [
            f"UNHEX(LPAD(HEX({ph}), 16, '0')) AS bytes",
            f"CONCAT('synthetic image ', {m['image_id']}) AS caption",
            f"CAST({ph} AS BIGINT) AS phash",
        ]
    return spark.range(0, n).selectExpr(*cols)


def _images_meta_oracle_src(n: int) -> str:
    m = fixtures.images_meta_sql("i")
    return f"""(
      SELECT {m['image_id']} AS image_id, {m['w']} AS w, {m['h']} AS h,
             {m['fmt']} AS fmt, {m['lon']} AS lon, {m['lat']} AS lat
      FROM (SELECT UNNEST(GENERATE_SERIES(0, {n - 1})) AS i) ids)"""


def q_images_tile_density(spark, sf_dir):
    img = _images_meta_df(spark, N_IMAGES_ORACLE)
    return (spatial.tile_assign(img, "lon", "lat", 8)
            .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_images"))
            .where(F.col("n_images") >= 5))


ORACLE_IMG_DENSITY = f"""
SELECT {cells.cell_sql('lon', 'lat', 8)} AS cell_id, COUNT(*) AS n_images
FROM {_images_meta_oracle_src(N_IMAGES_ORACLE)} img
GROUP BY 1 HAVING COUNT(*) >= 5
"""


def q_images_hot_cell(spark, sf_dir):
    """Skew witness: the hot cell holds ~30% of all images (FIXTURES §1).

    The total folds into the SAME aggregation via a global window over the
    grouped counts (a few dozen rows) — the previous separate t.count()
    action scanned the input twice."""
    img = _images_meta_df(spark, N_IMAGES_ORACLE)
    t = spatial.tile_assign(img, "lon", "lat", 8)
    c = t.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(W.partitionBy())
    return (c.withColumn("share_pct",
                         F.round(F.col("n") * 100.0 / total, 4))
            .orderBy(F.col("n").desc(), F.col("cell_id").asc()).limit(3))


ORACLE_IMG_HOT = f"""
WITH t AS (
  SELECT {cells.cell_sql('lon', 'lat', 8)} AS cell_id
  FROM {_images_meta_oracle_src(N_IMAGES_ORACLE)} img),
c AS (SELECT cell_id, COUNT(*) AS n FROM t GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS DECIMAL(38,6)) AS total FROM t)
SELECT cell_id, n, ROUND(n * 100.0 / total, 4) AS share_pct
FROM c, tot ORDER BY n DESC, cell_id ASC LIMIT 3
"""


def _fence_edges_values_sql(m: int = 64) -> str:
    """Fence layer (FIXTURES §2: holes + multiparts) as an inline VALUES edge
    table for the DuckDB oracle — deterministic fixture, known by
    construction."""
    e = fixtures.fence_edges(m)
    rows = ",".join(
        f"({int(r[0])},{r[1]!r},{r[2]!r},{r[3]!r},{r[4]!r})" for r in e)
    return f"(SELECT * FROM (VALUES {rows}) AS fe(poly_id, x1, y1, x2, y2))"


def q_images_fence_join(spark, sf_dir):
    """FLAGSHIP shape: images tile-assigned + PIP-joined to the fence layer
    (holes + multi-part polygons + pinned hot-spot fence), counts per fence.
    This is the north-star metric's query at test scale."""
    img = _images_meta_df(spark, N_IMAGES_ORACLE)
    polys = fixtures.fences_df(spark, 64).drop("layer", "name")
    j = spatial.spatial_join(img, polys, "lon", "lat", level=LVL, broadcast_cover=True)
    return (j.groupBy("poly_id")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.min("image_id").alias("first_image")))


ORACLE_IMG_FENCE = f"""
WITH pairs AS (
  SELECT img.image_id, fe.poly_id
  FROM {_images_meta_oracle_src(N_IMAGES_ORACLE)} img
  CROSS JOIN {_fence_edges_values_sql(64)} fe
  GROUP BY img.image_id, fe.poly_id, img.lon, img.lat
  HAVING SUM({geom.pip_sql('img.lon', 'img.lat')}) % 2 = 1)
SELECT poly_id, COUNT(*) AS n_images, MIN(image_id) AS first_image
FROM pairs GROUP BY poly_id
"""


# --- B7 chunked path: many-edge polygons, distributed, oracle-checked -------------

def _bigpoly_rings() -> dict[int, list[list[tuple[float, float]]]]:
    """Two many-edge polygons known by construction: a 48-edge circle with
    a 24-edge hole, and an 80-edge circle — both above MAX_INLINE_EDGES
    in total so the single-chunk inline path can't take them."""
    import math

    def circle(cx, cy, r, n):
        return [(cx + r * math.cos(2 * math.pi * k / n),
                 cy + r * math.sin(2 * math.pi * k / n))
                for k in range(n)] + [(cx + r, cy)]

    return {0: [circle(20.0, 10.0, 25.0, 48), circle(20.0, 10.0, 10.0, 24)],
            1: [circle(-60.0, -30.0, 20.0, 80)]}


def _bigpoly_df(spark) -> DataFrame:
    rows = []
    for pid, rings in _bigpoly_rings().items():
        xs = [p[0] for ring in rings for p in ring]
        ys = [p[1] for ring in rings for p in ring]
        rows.append((pid, [[[list(p) for p in ring] for ring in rings]],
                     (min(xs), min(ys), max(xs), max(ys))))
    schema = T.StructType([
        T.StructField("poly_id", T.LongType()),
        T.StructField("coordinates", T.ArrayType(T.ArrayType(
            T.ArrayType(T.ArrayType(T.DoubleType()))))),
        T.StructField("bbox", T.StructType(
            [T.StructField(n, T.DoubleType())
             for n in ("xmin", "ymin", "xmax", "ymax")])),
    ])
    return spark.createDataFrame(rows, schema)


def _bigpoly_edges_values_sql() -> str:
    rows = []
    for pid, rings in _bigpoly_rings().items():
        for ring in rings:
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                rows.append(f"({pid},{x1!r},{y1!r},{x2!r},{y2!r})")
    return (f"(SELECT * FROM (VALUES {','.join(rows)}) "
            f"AS fe(poly_id, x1, y1, x2, y2))")


def q_spatial_join_chunked(spark, sf_dir):
    """B7 chunked refine on the distributed placement under the DRIVER
    gate: event points PIP-joined to >MAX_INLINE_EDGES polygons (72- and
    80-edge, one with a hole) via edge-chunked cover rows (up to 2 chunks
    per cell) + summed codegen crossings. The oracle ray-casts the
    identical edge table in SQL; even-odd hole semantics included."""
    pts = _event_points(spark, sf_dir)
    polys = _bigpoly_df(spark)
    j = spatial.spatial_join(pts, polys, "lon", "lat", level=LVL,
                             broadcast_cover=False)
    return j.select("event_id", "poly_id")


ORACLE_SJ_CHUNKED = f"""
SELECT e.event_id, fe.poly_id
FROM {EVENT_POINTS_SQL} e
CROSS JOIN {_bigpoly_edges_values_sql()} fe
GROUP BY e.event_id, fe.poly_id, e.lon, e.lat
HAVING SUM({geom.pip_sql('e.lon', 'e.lat')}) % 2 = 1
"""


# --- B10: raster↔vector clip coverage (oracle-checked half of clip_stats) ---------

N_CLIP_IMGS = 24
N_CLIP_FENCES = 8


def _clip_fixture_rows():
    """Deterministic (i, poly_id, lon, lat, w, h): image i straddles a
    corner region of fence i % 8 (center at 0.7x-1.0x of the half-extent),
    so its pixel lattice lands partly inside, partly outside — the clip
    actually cuts; fences with holes (j % 4 == 0) also cut interior
    pixels."""
    rows = []
    for i in range(N_CLIP_IMGS):
        j = i % N_CLIP_FENCES
        cx, cy, hx, hy = fixtures.fence_params(j)
        rows.append((i, j,
                     float(cx + hx * (0.7 + 0.3 * ((i * 7) % 5) / 4.0)),
                     float(cy + hy * (0.7 + 0.3 * ((i * 11) % 5) / 4.0)),
                     16 + 8 * (i % 3), 16 + 8 * ((i + 1) % 3)))
    return rows


def q_clip_coverage_stats(spark, sf_dir):
    """B10 under the oracle gate: run the REAL decode→clip kernel
    (raster_vector_clip: codec decode, pixel-center lattice, even-odd
    scanline ray-cast with holes, re-encode) and emit the SQL-checkable half of its
    output — (image_id, poly_id, n_inside, n_pixels). The oracle recomputes
    the lattice PIP per pixel center with bit-identical float expressions;
    pixel VALUE invariants (zeroed outside, mean inside, PSNR) stay in
    pytest where the codec exists."""
    import numpy as np
    from . import clip, geom

    rows = _clip_fixture_rows()
    pdfs = pd.DataFrame({
        "image_id": [f"clip{i:03d}" for i, *_ in rows],
        "poly_id": pd.array([r[1] for r in rows], dtype="int64"),
        "lon": [r[2] for r in rows], "lat": [r[3] for r in rows],
        "w": pd.array([r[4] for r in rows], dtype="int32"),
        "h": pd.array([r[5] for r in rows], dtype="int32"),
        "fmt": ["raw"] * len(rows),
        "bytes": [np.ones((r[5], r[4], 3), dtype=np.uint8).tobytes()
                  for r in rows],
    })
    images = spark.createDataFrame(pdfs)
    edges = {j: geom.rings_to_edges(fixtures.fence_rings(j))
             for j in range(N_CLIP_FENCES)}
    out = clip.raster_vector_clip(images, edges)
    return out.select("image_id", "poly_id", "n_inside", "n_pixels")


def _clip_oracle_sql() -> str:
    from .clip import DEG_PER_PX
    imgs = ",".join(
        f"('clip{i:03d}',{j},{lon!r},{lat!r},{w},{h})"
        for i, j, lon, lat, w, h in _clip_fixture_rows())
    # pixel-center formulas mirror geom.scanline_parity (the clip's
    # kernel) op-for-op:
    # plon = lon + ((x - w/2) + 0.5) * deg ; plat = lat + ((h/2 - y) - 0.5) * deg
    return f"""
WITH imgs AS (
  SELECT * FROM (VALUES {imgs}) AS t(image_id, poly_id, lon, lat, w, h)),
px AS (
  SELECT image_id, poly_id, w, h,
         lon + ((gx.x - w / 2.0) + 0.5) * {DEG_PER_PX!r} AS plon,
         lat + ((h / 2.0 - gy.y) - 0.5) * {DEG_PER_PX!r} AS plat
  FROM imgs,
       LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS x) gx,
       LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS y) gy),
hits AS (
  SELECT p.image_id, p.poly_id, p.w, p.h, p.plon, p.plat
  FROM px p JOIN {_fence_edges_values_sql(N_CLIP_FENCES)} fe
    ON fe.poly_id = p.poly_id
  GROUP BY p.image_id, p.poly_id, p.w, p.h, p.plon, p.plat
  HAVING SUM({geom.pip_sql('p.plon', 'p.plat')}) % 2 = 1)
SELECT i.image_id, i.poly_id,
       COALESCE(n.n_inside, 0) AS n_inside,
       CAST(i.w * i.h AS BIGINT) AS n_pixels
FROM imgs i LEFT JOIN (
  SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_inside
  FROM hits GROUP BY image_id) n USING (image_id)
"""


ORACLE_CLIP = _clip_oracle_sql()


def q_distance_join_events(spark, sf_dir):
    """Big-big distance join (spatial.distance_join_cells — cell-bucketed
    3×3-ring candidates + exact refine, one shuffle, no broadcast): event
    pairs within 0.5 euclidean degrees, deduped a<b, folded to a count +
    id checksum the DuckDB cross-join oracle can replay exactly."""
    pts = _event_points(spark, sf_dir).select("event_id", "lon", "lat")
    pairs = spatial.distance_join_cells(pts, pts, 0.5)
    return (pairs.where(F.col("l_event_id") < F.col("r_event_id"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(F.col("l_event_id") * 100000
                       + F.col("r_event_id")).alias("pair_sum"),
                 F.min("l_event_id").alias("min_a")))


ORACLE_DISTANCE_JOIN = f"""
WITH p AS (SELECT event_id, lon, lat FROM {EVENT_POINTS_SQL} t),
pairs AS (
  SELECT a.event_id AS ai, b.event_id AS bi
  FROM p a JOIN p b ON a.event_id < b.event_id
  WHERE (a.lon - b.lon) * (a.lon - b.lon)
        + (a.lat - b.lat) * (a.lat - b.lat) <= 0.25)
SELECT COUNT(*) AS n_pairs,
       CAST(SUM(ai * 100000 + bi) AS BIGINT) AS pair_sum,
       MIN(ai) AS min_a
FROM pairs
"""


N_PHD = 2000
PHD_HAM_MAX = 10
# groups of 4 ids share a 63-bit base hash; members differ by 0/1/3/24
# flipped bits — near-dup pairs (≤10 bits apart) are exactly the
# {+0,+1,+3-bit} members of each group, planted by construction
_PHD_DELTAS = (0, 1, (1 << 40) + (1 << 13) + 1,
               (0xAAAAAA << 20) + 0xAAA)     # 24 bits worth of flips


def _phd_hash_sql(i: str, xor_op: str = "func") -> str:
    """63-bit planted phash as a SQL expression; ``xor_op``: DuckDB spells
    bitwise xor ``xor(a, b)``, Spark SQL ``a ^ b``."""
    from .hashing import mix_sql
    # Spark's / is fractional; FLOOR+CAST is the shared integer division
    j = f"CAST(FLOOR(({i}) / 4) AS BIGINT)"
    hi = f"(({mix_sql(f'{j} * 2 + 1')}) % 2147483648)"
    lo = mix_sql(f"{j} * 2 + 2")
    base = f"({hi} * 4294967296 + {lo})"
    d = (f"CAST(CASE ({i}) % 4 WHEN 0 THEN 0 WHEN 1 THEN {_PHD_DELTAS[1]} "
         f"WHEN 2 THEN {_PHD_DELTAS[2]} ELSE {_PHD_DELTAS[3]} END "
         f"AS BIGINT)")
    if xor_op == "func":
        return f"xor({base}, {d})"
    return f"({base} ^ {d})"


def q_images_phash_near_dup(spark, sf_dir):
    """Image near-duplicate pairs on the perceptual-hash column (the
    image analog of embedding near-dup — LLM image-dataset dedup): band
    the 64-bit phash into 4×16-bit LSH bands, self-join on (band, value)
    — a pair is a candidate iff ≥1 band collides (this fixture's near-dup
    pairs differ by ≤4 bits, so ≥1 of 4 bands is always intact) — then
    verify exact hamming ≤ 10 via bit_count(xor). Pure SQL: banded
    equi-join, never all-pairs."""
    i = "CAST(id AS BIGINT)"
    ph = spark.range(N_PHD).selectExpr(
        f"{i} AS img_id",
        f"{_phd_hash_sql(i, xor_op='caret')} AS ph")
    bands = ph.selectExpr(
        "img_id", "ph",
        "explode(array(0, 1, 2, 3)) AS band").selectExpr(
        "img_id", "ph", "band",
        "shiftright(ph, band * 16) & 65535 AS bv")
    a = bands.selectExpr("img_id AS ai", "ph AS pa", "band", "bv")
    b = bands.selectExpr("img_id AS bi", "ph AS pb", "band", "bv")
    pairs = (a.join(b, ["band", "bv"])
             .where(F.col("ai") < F.col("bi"))
             .select("ai", "bi", "pa", "pb").distinct()
             .where(F.expr(f"bit_count(pa ^ pb) <= {PHD_HAM_MAX}")))
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("ai") * 100000 + F.col("bi")).alias("pair_sum"),
        F.max(F.expr("bit_count(pa ^ pb)")).alias("max_ham"))


def _oracle_phash_near_dup() -> str:
    h = _phd_hash_sql("i", xor_op="func")
    return f"""
WITH ids AS (SELECT UNNEST(GENERATE_SERIES(0, {N_PHD - 1})) AS i),
ph AS (SELECT CAST(i AS BIGINT) AS img_id, {h} AS ph FROM ids),
bands AS (
  SELECT img_id, ph, band, (ph >> (band * 16)) & 65535 AS bv
  FROM ph, (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS band) b),
cand AS (
  SELECT DISTINCT a.img_id AS ai, b.img_id AS bi, a.ph AS pa, b.ph AS pb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.img_id < b.img_id),
ok AS (SELECT * FROM cand WHERE bit_count(xor(pa, pb)) <= {PHD_HAM_MAX})
SELECT COUNT(*) AS n_pairs,
       CAST(SUM(ai * 100000 + bi) AS BIGINT) AS pair_sum,
       CAST(MAX(bit_count(xor(pa, pb))) AS INT) AS max_ham
FROM ok
"""


ORACLE_PHASH_NEAR_DUP = _oracle_phash_near_dup()


QUERIES: dict = {
    "clip_coverage_stats": (q_clip_coverage_stats, ORACLE_CLIP),
    "tile_assign_events": (q_tile_assign_events, ORACLE_TILE_ASSIGN),
    "cell_hierarchy": (q_cell_hierarchy, ORACLE_HIERARCHY),
    "cell_ring_sum": (q_cell_ring_sum, ORACLE_RING_SUM),
    "polygon_cover_nations": (q_polygon_cover_nations, ORACLE_COVER),
    "spatial_join_pairs": (q_spatial_join_pairs, ORACLE_SJ_PAIRS),
    "spatial_join_agg": (q_spatial_join_agg, ORACLE_SJ_AGG),
    "spatial_join_chunked": (q_spatial_join_chunked, ORACLE_SJ_CHUNKED),
    "knn_events_nations": (q_knn_events_nations, ORACLE_KNN),
    "knn_events_nations_cells": (q_knn_events_nations_cells, ORACLE_KNN),
    "range_join_counts": (q_range_join_counts, ORACLE_RANGE),
    "images_tile_density": (q_images_tile_density, ORACLE_IMG_DENSITY),
    "images_hot_cell": (q_images_hot_cell, ORACLE_IMG_HOT),
    "images_fence_join": (q_images_fence_join, ORACLE_IMG_FENCE),
    # B9 variant of range_join_counts
    "distance_join_events": (q_distance_join_events, ORACLE_DISTANCE_JOIN),
    "images_phash_near_dup": (q_images_phash_near_dup,
                              ORACLE_PHASH_NEAR_DUP),
}
