"""Corpus-curation & multi-resolution rollup operators (training-data
pipeline surface, SURVEY.md §6 family): deterministic train/val/test
splitting with stratified sampling, benchmark-contamination detection via
n-gram overlap, one-pass tile-pyramid rollups, and polygon shape metrics
(area / perimeter / centroid) over the fence layer.

All four have exact DuckDB twins; none is in the query registry
(spark_shp.registry holds only the paper's spatial path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql import types as T

from . import cells, fixtures, geom, spatial
from .hashing import mix_sql


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- deterministic split + stratified sampling --------------------------------

SPLIT_SQL = (f"CASE WHEN {mix_sql('doc_id')} % 100 < 80 THEN 'train' "
             f"WHEN {mix_sql('doc_id')} % 100 < 90 THEN 'val' "
             "ELSE 'test' END")
STRAT_QUOTA = 20  # docs kept per (lang, split) stratum


def q_corpus_split_stratified(spark, sf_dir):
    """Hash-deterministic 80/10/10 split + per-(lang, split) stratified
    sample of STRAT_QUOTA docs, ranked by an independent hash so the sample
    is uniform within each stratum. Reproducible on any cluster size: rank
    depends only on doc_id, never on partitioning or arrival order — the
    property that makes a 100 TB re-run (or an incremental top-up) emit the
    identical sample. One window shuffle keyed by the stratum."""
    d = _t(spark, sf_dir, "documents")
    d = d.selectExpr("doc_id", "lang", f"{SPLIT_SQL} AS split",
                     f"{mix_sql('doc_id * 31 + 7')} AS rk")
    w = W.partitionBy("lang", "split").orderBy("rk", "doc_id")
    return (d.withColumn("rn", F.row_number().over(w))
            .selectExpr("doc_id", "lang", "split",
                        f"CAST(rn <= {STRAT_QUOTA} AS INT) AS sampled"))


ORACLE_SPLIT = f"""
WITH s AS (
  SELECT doc_id, lang, {SPLIT_SQL} AS split,
         {mix_sql('doc_id * 31 + 7')} AS rk
  FROM documents),
r AS (
  SELECT doc_id, lang, split,
         ROW_NUMBER() OVER (PARTITION BY lang, split
                            ORDER BY rk, doc_id) AS rn
  FROM s)
SELECT doc_id, lang, split,
       CAST(CASE WHEN rn <= {STRAT_QUOTA} THEN 1 ELSE 0 END AS INT) AS sampled
FROM r
"""


# --- benchmark contamination via trigram shingle overlap ----------------------

BENCH_MOD = 97  # doc_id % BENCH_MOD == 0 -> "held-out benchmark" doc


def q_contamination_check(spark, sf_dir):
    """Per training doc: how many of its distinct word trigrams appear in
    ANY benchmark doc (doc_id % BENCH_MOD == 0) — the n-gram-overlap
    decontamination pass every eval-aware corpus build runs. Scale shape:
    distinct (doc, shingle) pairs equi-join the (much smaller) distinct
    benchmark-shingle set on the shingle key — one shuffle keyed by
    shingle, never doc x doc; the benchmark side is NOT broadcast because
    at 100 TB it need not fit on one executor."""
    d = _t(spark, sf_dir, "documents")
    sh = (d.selectExpr("doc_id", "split(text, ' ') AS w")
          .where(F.expr("size(w) >= 3"))
          .selectExpr("doc_id",
                      "explode(transform(sequence(0, size(w) - 3),"
                      " i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))"
                      " AS shingle")
          .distinct())
    bench = (sh.where(F.col("doc_id") % BENCH_MOD == 0)
             .select("shingle").distinct().withColumn("hit", F.lit(1)))
    train = sh.where(F.col("doc_id") % BENCH_MOD != 0)
    return (train.join(bench, "shingle", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.count("hit").alias("n_shared"))
            .selectExpr("doc_id", "n_shingles", "n_shared",
                        "ROUND(CAST(n_shared AS DOUBLE)"
                        " / CAST(n_shingles AS DOUBLE), 6) AS contam_ratio"))


ORACLE_CONTAMINATION = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         w[i.i] || ' ' || w[i.i + 1] || ' ' || w[i.i + 2] AS shingle
  FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, len(w) - 2)) AS i) i
  WHERE len(w) >= 3),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
train AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> 0)
SELECT t.doc_id, COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_shared,
       ROUND(CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS contam_ratio
FROM train t LEFT JOIN bench b ON t.shingle = b.shingle
GROUP BY t.doc_id
"""


# --- one-pass tile pyramid rollup ---------------------------------------------

PYR_BASE = 12
PYR_STEPS = (0, 2, 4, 6)  # levels 12, 10, 8, 6


def q_tile_pyramid(spark, sf_dir):
    """Multi-resolution tile counts (web-map pyramid / hypertable rollup):
    every event contributes to its cell at levels 12/10/8/6 via an explode
    of the parent chain, then ONE groupBy — a single shuffle builds the
    whole pyramid, vs one shuffle per level for the naive per-level
    re-aggregation. Parent ids are pure integer codegen (cell_parent_sql),
    so the explode stays inside whole-stage codegen."""
    pts = spatial.tile_assign(
        _t(spark, sf_dir, "events")
        .selectExpr("event_id", f"{fixtures.EVENT_LON_SQL} AS lon",
                    f"{fixtures.EVENT_LAT_SQL} AS lat"),
        "lon", "lat", PYR_BASE)
    levels = F.array(*[
        F.struct(F.lit(PYR_BASE - s).alias("level"),
                 (F.col("cell_id") if s == 0
                  else F.expr(cells.cell_parent_sql("cell_id", s)))
                 .alias("cell"))
        for s in PYR_STEPS])
    return (pts.select(F.explode(levels).alias("lc"))
            .groupBy(F.col("lc.level").alias("level"),
                     F.col("lc.cell").alias("cell"))
            .agg(F.count(F.lit(1)).alias("n")))


_BASE_CELL = cells.cell_sql(fixtures.EVENT_LON_SQL.replace("event_id", "e.event_id"),
                            fixtures.EVENT_LAT_SQL.replace("event_id", "e.event_id"),
                            PYR_BASE)
ORACLE_PYRAMID = "\nUNION ALL\n".join(
    f"""SELECT {PYR_BASE - s} AS level,
       {(_BASE_CELL if s == 0 else cells.cell_parent_sql(_BASE_CELL, s))} AS cell,
       COUNT(*) AS n
FROM events e GROUP BY 2"""
    for s in PYR_STEPS)


# --- polygon metrics: area / perimeter / centroid -----------------------------

def polygon_stats(polys: DataFrame) -> DataFrame:
    """(poly_id, coordinates) -> (poly_id, area, perimeter, cx, cy) via the
    shoelace formula over ALL rings: holes (opposite winding) subtract from
    signed area and pull the centroid away, multi-parts add — no per-ring
    special-casing. Batched Arrow kernel: each batch concatenates every
    ring's edges once and segment-sums with np.add.reduceat, so cost is one
    vectorized pass per batch, not per polygon."""
    out_schema = T.StructType([
        T.StructField("poly_id", T.LongType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("perimeter", T.DoubleType()),
        T.StructField("cx", T.DoubleType()),
        T.StructField("cy", T.DoubleType()),
    ])

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            eds, seg, counts = [], [0], []
            for coords in pdf["coordinates"]:
                # Arrow hands ragged nesting back as object arrays; stack
                # each ring's points explicitly rather than trusting asarray
                # to infer the (n, 2) shape.
                rings = [np.stack([np.asarray(pt, dtype=np.float64)
                                   for pt in ring])
                         for part in coords for ring in part]
                e = geom.rings_to_edges(rings)
                eds.append(e)
                counts.append(e.shape[0])
            e = np.vstack(eds)
            starts = np.cumsum([0] + counts[:-1])
            x1, y1, x2, y2 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
            cross = x1 * y2 - x2 * y1
            per = np.hypot(x2 - x1, y2 - y1)
            sa = np.add.reduceat(cross, starts) / 2.0
            sp = np.add.reduceat(per, starts)
            sx = np.add.reduceat((x1 + x2) * cross, starts) / 6.0
            sy = np.add.reduceat((y1 + y2) * cross, starts) / 6.0
            yield pd.DataFrame({
                "poly_id": pdf["poly_id"].to_numpy(),
                "area": np.abs(sa),
                "perimeter": sp,
                "cx": sx / sa,
                "cy": sy / sa,
            })

    return polys.select("poly_id", "coordinates").mapInPandas(
        kernel, out_schema)


def q_polygon_metrics(spark, sf_dir):
    stats = polygon_stats(fixtures.fences_df(spark, 64))
    return stats.select(
        "poly_id",
        *[F.round(c, 6).alias(c) for c in ("area", "perimeter", "cx", "cy")])


def _oracle_polygon_metrics() -> str:
    from .queries_spatial import _fence_edges_values_sql
    return f"""
WITH s AS (
  SELECT poly_id,
         SUM(x1 * y2 - x2 * y1) / 2.0 AS sa,
         SUM(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))) AS sp,
         SUM((x1 + x2) * (x1 * y2 - x2 * y1)) / 6.0 AS sx,
         SUM((y1 + y2) * (x1 * y2 - x2 * y1)) / 6.0 AS sy
  FROM (SELECT poly_id, CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
               CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
        FROM {_fence_edges_values_sql(64)} v) fe
  GROUP BY poly_id)
SELECT poly_id, ROUND(ABS(sa), 6) AS area, ROUND(sp, 6) AS perimeter,
       ROUND(sx / sa, 6) AS cx, ROUND(sy / sa, 6) AS cy
FROM s
"""


# --- ring validity (self-intersection QA) -------------------------------------

def _validity_rings():
    """64 fence outer rings (valid by construction) + a bowtie (1 proper
    self-intersection) + a pentagram (5) — deterministic fixture shared by
    the Spark kernel input and the oracle's VALUES edge table."""
    import math
    rings = [(j, fixtures.fence_rings(j)[0]) for j in range(64)]
    rings.append((100, np.array(
        [[0.0, 0.0], [2.0, 2.0], [2.0, 0.0], [0.0, 2.0], [0.0, 0.0]])))
    star = [(math.cos(math.radians(90 + 144 * k)),
             math.sin(math.radians(90 + 144 * k))) for k in range(5)]
    rings.append((101, np.array(star + star[:1], dtype=np.float64)))
    return rings


def q_ring_validity(spark, sf_dir):
    """Geometry QA: count PROPER self-intersections per decoded ring
    (crossing non-adjacent edge pairs — a bowtie has 1, a pentagram 5,
    every fence rectangle 0). The vectorized pairwise kernel
    (geom.ring_self_intersections) runs per feature inside mapInPandas;
    the oracle replays the identical ccw sign tests over a VALUES edge
    table built from the same fixture."""
    rows = [(int(sid), [[float(x), float(y)] for x, y in ring])
            for sid, ring in _validity_rings()]
    schema = T.StructType([
        T.StructField("shape_id", T.LongType()),
        T.StructField("ring", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ])
    out_schema = T.StructType([
        T.StructField("shape_id", T.LongType()),
        T.StructField("n_edges", T.IntegerType()),
        T.StructField("n_self_x", T.IntegerType()),
    ])

    def work(batches):
        for pdf in batches:
            res = []
            for sid, ring in zip(pdf["shape_id"], pdf["ring"]):
                r = np.stack([np.asarray(pt, dtype=np.float64)
                              for pt in ring])
                res.append((int(sid), int(r.shape[0] - 1),
                            geom.ring_self_intersections(r)))
            yield pd.DataFrame(res, columns=["shape_id", "n_edges",
                                             "n_self_x"])

    return (spark.createDataFrame(rows, schema)
            .repartition(8, "shape_id").mapInPandas(work, out_schema))


def _oracle_ring_validity() -> str:
    vals = []
    for sid, ring in _validity_rings():
        r = np.asarray(ring, dtype=np.float64)
        for k in range(r.shape[0] - 1):
            vals.append(f"({sid},{k},{r[k, 0]!r},{r[k, 1]!r},"
                        f"{r[k + 1, 0]!r},{r[k + 1, 1]!r})")

    def ccw(ax, ay, bx, by, cx, cy):
        return (f"(({bx} - {ax}) * ({cy} - {ay})"
                f" - ({by} - {ay}) * ({cx} - {ax}))")

    d1 = (f"{ccw('a.x1','a.y1','a.x2','a.y2','b.x1','b.y1')}"
          f" * {ccw('a.x1','a.y1','a.x2','a.y2','b.x2','b.y2')}")
    d2 = (f"{ccw('b.x1','b.y1','b.x2','b.y2','a.x1','a.y1')}"
          f" * {ccw('b.x1','b.y1','b.x2','b.y2','a.x2','a.y2')}")
    return f"""
WITH e AS (
  SELECT shape_id, eid, CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
         CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
  FROM (VALUES {','.join(vals)}) v(shape_id, eid, x1, y1, x2, y2)),
m AS (SELECT shape_id, CAST(MAX(eid) + 1 AS INT) AS n_edges
      FROM e GROUP BY 1),
x AS (
  SELECT a.shape_id, COUNT(*) AS nx
  FROM e a JOIN e b ON b.shape_id = a.shape_id AND a.eid < b.eid
  JOIN m ON m.shape_id = a.shape_id
  WHERE b.eid - a.eid <> 1
    AND NOT (a.eid = 0 AND b.eid = m.n_edges - 1)
    AND ({d1}) < 0 AND ({d2}) < 0
  GROUP BY a.shape_id)
SELECT m.shape_id, m.n_edges,
       CAST(COALESCE(x.nx, 0) AS INT) AS n_self_x
FROM m LEFT JOIN x ON x.shape_id = m.shape_id
"""


# --- quadtree cover compaction (H3 `compact` analog) --------------------------

CMP_LVL = 6
CMP_MIN = 2


def q_cell_compact_cover(spark, sf_dir):
    """Compact each nation's level-6 rectangle cover: full 4-child sibling
    sets collapse to their parent, repeatedly down to level 2 — the
    cover-compression step that keeps big polygon covers broadcastable.
    Gated outputs: per nation, cell count before/after and an exact sum
    checksum of the compacted ids (level is embedded in the id, so a cell
    compacted to the wrong level shifts the sum)."""
    from .queries_spatial import _nation_fences_df
    cov = (spatial.polygon_cover(_nation_fences_df(spark, sf_dir), CMP_LVL)
           .withColumnRenamed("poly_id", "n_nationkey")
           .select("n_nationkey", "cell_id"))
    comp = spatial.compact_cells(cov, "cell_id", ("n_nationkey",),
                                 min_level=CMP_MIN, level=CMP_LVL)
    before = cov.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).alias("n_before"))
    after = comp.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum("cell_id").alias("cells_checksum"))
    return before.join(after, "n_nationkey")


def _oracle_cell_compact() -> str:
    from .queries_spatial import ORACLE_COVER
    mod = 1 << cells.LEVEL_BITS
    par = cells.cell_parent_sql("cell_id", 1)

    steps, kept_names, cur = [], [], "cur0"
    steps.append(f"""cur0 AS (
  SELECT n_nationkey, cell_id FROM cover)""")
    for k, lvl in enumerate(range(CMP_LVL, CMP_MIN, -1)):
        nxt = f"cur{k + 1}"
        steps.append(f"""at{k} AS (
  SELECT * FROM {cur} WHERE cell_id % {mod} = {lvl}),
rest{k} AS (
  SELECT * FROM {cur} WHERE cell_id % {mod} <> {lvl}),
cnt{k} AS (
  SELECT n_nationkey, {par} AS p, COUNT(*) AS c
  FROM at{k} GROUP BY 1, 2),
kept{k} AS (
  SELECT a.n_nationkey, a.cell_id
  FROM at{k} a JOIN cnt{k} c
    ON c.n_nationkey = a.n_nationkey AND c.p = {par.replace('cell_id', 'a.cell_id')}
  WHERE c.c < 4),
prom{k} AS (
  SELECT n_nationkey, p AS cell_id FROM cnt{k} WHERE c = 4),
{nxt} AS (
  SELECT * FROM rest{k} UNION ALL SELECT * FROM prom{k})""")
        kept_names.append(f"kept{k}")
        cur = nxt
    final_union = "\nUNION ALL\n".join(
        [f"  SELECT * FROM {n}" for n in kept_names]
        + [f"  SELECT * FROM {cur}"])
    # ORACLE_COVER ends with a final SELECT over its own `cover` CTE; reuse
    # just the WITH-chain by re-stating it here up to `cover`.
    cover_with = ORACLE_COVER.split("SELECT n_nationkey, COUNT(*)")[0].rstrip()
    assert cover_with.endswith(")"), "ORACLE_COVER shape changed"
    return f"""{cover_with},
{','.join(steps)},
final AS (
{final_union}),
bef AS (
  SELECT n_nationkey, COUNT(*) AS n_before FROM cover GROUP BY 1),
aft AS (
  SELECT n_nationkey, COUNT(*) AS n_after,
         CAST(SUM(cell_id) AS BIGINT) AS cells_checksum
  FROM final GROUP BY 1)
SELECT b.n_nationkey, b.n_before, a.n_after, a.cells_checksum
FROM bef b JOIN aft a ON a.n_nationkey = b.n_nationkey
"""


# --- caption x tile stats (image+caption pair invariant, spatially) -----------

N_CAP = 200
CAP_LVL = 4


def q_caption_tile_stats(spark, sf_dir):
    """The input-hint pair invariant (caption equality) under the gate,
    aggregated spatially: synthesized image+caption rows tile-assign at a
    coarse level and reduce caption char/token sums per tile. The oracle
    REBUILDS every caption string from the metadata formulas (printf %.3f
    — IEEE round-half-even on both sides), so any caption corruption,
    id-padding bug, or tile mis-assignment shifts a sum."""
    img = fixtures.images_df(spark, N_CAP, partitions=4, with_pixels=False)
    t = spatial.tile_assign(img, "lon", "lat", CAP_LVL)
    return (t.groupBy(F.col("cell_id").alias("tile"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.length("caption")).alias("sum_chars"),
                 F.sum(F.size(F.split("caption", " "))).alias("sum_tokens"),
                 F.min(F.length("image_id")).alias("id_len")))


def _oracle_caption_tiles() -> str:
    m = fixtures.images_meta_sql("i")
    return f"""
WITH imgs AS (
  SELECT i, {m['lon']} AS lon, {m['lat']} AS lat, {m['image_id']} AS image_id
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_CAP - 1})) AS i) t),
cap AS (
  SELECT i, lon, lat, image_id,
         'synthetic image ' || CAST(i AS VARCHAR) || ' at ('
           || printf('%.3f', lon) || ',' || printf('%.3f', lat) || ')'
           AS caption
  FROM imgs)
SELECT {cells.cell_sql('lon', 'lat', CAP_LVL)} AS tile,
       COUNT(*) AS n,
       CAST(SUM(length(caption)) AS BIGINT) AS sum_chars,
       CAST(SUM(len(string_split(caption, ' '))) AS BIGINT) AS sum_tokens,
       CAST(MIN(length(image_id)) AS INT) AS id_len
FROM cap GROUP BY 1
"""


# --- per-user trajectory statistics -------------------------------------------

_HAV = ("(12742.0 * asin(sqrt("
        "pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
        " + cos(radians({lat1})) * cos(radians({lat2}))"
        " * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))")


def _hav(lon1, lat1, lon2, lat2) -> str:
    return _HAV.format(lon1=lon1, lat1=lat1, lon2=lon2, lat2=lat2)


def q_trajectory_stats(spark, sf_dir):
    """Per-user movement summary over the event stream: haversine path
    length hop-by-hop (event_id order — the deterministic tiebreak a
    wall-clock-ordered stream lacks), net first-to-last displacement, and
    bbox extent. One shuffle keyed by user_id; the window walk is linear
    per user. Spark and DuckDB both evaluate the same closed-form haversine
    SQL, and ROUND(.., 6) swallows the at-most-last-ulp libm divergence."""
    e = (_t(spark, sf_dir, "events")
         .selectExpr("event_id", "user_id",
                     f"{fixtures.EVENT_LON_SQL} AS lon",
                     f"{fixtures.EVENT_LAT_SQL} AS lat"))
    w = W.partitionBy("user_id").orderBy("event_id")
    hop = _hav("prev_lon", "prev_lat", "lon", "lat")
    return (e.withColumn("prev_lon", F.lag("lon").over(w))
            .withColumn("prev_lat", F.lag("lat").over(w))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(F.expr(hop)), 6).alias("path_km"),
                 F.round(F.expr(_hav(
                     "min_by(lon, event_id)", "min_by(lat, event_id)",
                     "max_by(lon, event_id)", "max_by(lat, event_id)")), 6)
                 .alias("net_km"),
                 F.round((F.max("lon") - F.min("lon"))
                         * (F.max("lat") - F.min("lat")), 6)
                 .alias("bbox_area")))


def _oracle_trajectory() -> str:
    from .queries_spatial import EVENT_POINTS_SQL
    hop = _hav("prev_lon", "prev_lat", "lon", "lat")
    net = _hav("first_lon", "first_lat", "last_lon", "last_lat")
    return f"""
WITH e AS (
  SELECT event_id, user_id, lon, lat,
         LAG(lon) OVER w AS prev_lon, LAG(lat) OVER w AS prev_lat
  FROM {EVENT_POINTS_SQL} p
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
g AS (
  SELECT user_id, COUNT(*) AS n_events, SUM({hop}) AS path,
         MIN_BY(lon, event_id) AS first_lon, MIN_BY(lat, event_id) AS first_lat,
         MAX_BY(lon, event_id) AS last_lon, MAX_BY(lat, event_id) AS last_lat,
         (MAX(lon) - MIN(lon)) * (MAX(lat) - MIN(lat)) AS bbox
  FROM e GROUP BY user_id)
SELECT user_id, n_events, ROUND(path, 6) AS path_km,
       ROUND({net}, 6) AS net_km, ROUND(bbox, 6) AS bbox_area
FROM g
"""


# --- origin-destination tile flows --------------------------------------------

OD_LVL = 3


def q_od_flows(spark, sf_dir):
    """Origin→destination flow matrix: consecutive events per user become
    directed (from_tile, to_tile) hops at a coarse cell level — the
    movement-analytics rollup (commute matrices, migration flows). One
    user-keyed window shuffle + one flow-keyed aggregation; self-loops
    (hops within a tile) kept, labeled, and counted separately."""
    e = (_t(spark, sf_dir, "events")
         .selectExpr("event_id", "user_id",
                     f"{fixtures.EVENT_LON_SQL} AS lon",
                     f"{fixtures.EVENT_LAT_SQL} AS lat"))
    t = spatial.tile_assign(e, "lon", "lat", OD_LVL)
    w = W.partitionBy("user_id").orderBy("event_id")
    hops = (t.withColumn("from_tile", F.lag("cell_id").over(w))
            .where(F.col("from_tile").isNotNull()))
    return (hops.groupBy(F.col("from_tile"),
                         F.col("cell_id").alias("to_tile"))
            .agg(F.count(F.lit(1)).alias("n_hops"),
                 F.countDistinct("user_id").alias("n_users"))
            .withColumn("is_self_loop",
                        (F.col("from_tile") == F.col("to_tile")).cast("int")))


def _oracle_od_flows() -> str:
    from .queries_spatial import EVENT_POINTS_SQL
    cell = cells.cell_sql("lon", "lat", OD_LVL)
    return f"""
WITH t AS (
  SELECT event_id, user_id, {cell} AS tile FROM {EVENT_POINTS_SQL} p),
hops AS (
  SELECT user_id, tile AS to_tile,
         LAG(tile) OVER (PARTITION BY user_id ORDER BY event_id)
           AS from_tile
  FROM t)
SELECT from_tile, to_tile, COUNT(*) AS n_hops,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(CASE WHEN from_tile = to_tile THEN 1 ELSE 0 END AS INT)
         AS is_self_loop
FROM hops WHERE from_tile IS NOT NULL
GROUP BY from_tile, to_tile
"""


# --- image augmentation checksums ---------------------------------------------

N_AUG = 36  # ids 0..35; qb (lossy) excluded -> 24 raw/png images


def q_image_augment(spark, sf_dir):
    """Training augmentations (flip / center-crop / rot90 / NN-resize) over
    real decoded bytes, reduced to orientation-sensitive exact checksums.
    The oracle recomputes every checksum from the pixel FORMULA
    P(y,x,c) = mix(i*1000003 + y*4096 + x*4 + c) % 256 with the transform's
    index remapping — a flipped axis, BGR swap, stride bug, or off-by-one
    crop/resize origin in the engine's kernel changes the sum."""
    from . import multimodal
    img = fixtures.images_df(spark, N_AUG, partitions=4).where(
        F.col("fmt") != "qb")
    return multimodal.augment_checksums(img)


def _oracle_image_augment() -> str:
    m = fixtures.images_meta_sql("i")

    def px(y: str, x: str) -> str:
        return f"({mix_sql(f'i * 1000003 + ({y}) * 4096 + ({x}) * 4 + cc.c')} % 256)"

    def wgt(y: str, x: str) -> str:
        return f"(1 + (({x}) * 31 + ({y}) * 17 + cc.c * 7) % 101)"

    def lattice(ny: str, nx: str) -> str:
        return f"""
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {ny} - 1)) AS y) yy,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {nx} - 1)) AS x) xx,
  LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS c) cc"""

    return f"""
WITH imgs AS (
  SELECT i, {m['w']} AS w, {m['h']} AS h, {m['image_id']} AS image_id
  FROM (SELECT UNNEST(GENERATE_SERIES(0, {N_AUG - 1})) AS i) t
  WHERE i % 3 <> 2),
flip AS (
  SELECT image_id,
         CAST(SUM({px('yy.y', 'w - 1 - xx.x')} * {wgt('yy.y', 'xx.x')})
              AS BIGINT) AS cs_flip
  FROM imgs, {lattice('h', 'w')}
  GROUP BY image_id),
crop AS (
  SELECT image_id,
         CAST(SUM({px('h // 4 + yy.y', 'w // 4 + xx.x')}
                  * {wgt('yy.y', 'xx.x')}) AS BIGINT) AS cs_crop
  FROM imgs, {lattice('h // 2', 'w // 2')}
  GROUP BY image_id),
rot AS (
  -- np.rot90 on (h, w): out[a, b] = in[b, w - 1 - a]; y iterates a (0..w-1)
  SELECT image_id,
         CAST(SUM({px('xx.x', 'w - 1 - yy.y')} * {wgt('yy.y', 'xx.x')})
              AS BIGINT) AS cs_rot90
  FROM imgs, {lattice('w', 'h')}
  GROUP BY image_id),
res AS (
  SELECT image_id,
         CAST(SUM({px('(yy.y * h) // 16', '(xx.x * w) // 16')}
                  * {wgt('yy.y', 'xx.x')}) AS BIGINT) AS cs_resize
  FROM imgs, {lattice('16', '16')}
  GROUP BY image_id)
SELECT f.image_id, f.cs_flip, c.cs_crop, r.cs_rot90, s.cs_resize
FROM flip f
JOIN crop c ON c.image_id = f.image_id
JOIN rot r ON r.image_id = f.image_id
JOIN res s ON s.image_id = f.image_id
"""


# --- passage-level dedup (C4/RefinedWeb-style) ---------------------------------

PASSAGE_W = 3  # tokens per (non-overlapping) passage window


def q_dedup_passages(spark, sf_dir):
    """Passage-level exact dedup with document reconstruction: each doc's
    token stream is chunked into fixed ``PASSAGE_W``-token windows, a passage
    survives only at its globally-first occurrence (min doc_id, then min
    position), and every doc is re-assembled from its surviving passages in
    original order. This is the C4/RefinedWeb curation step BETWEEN doc-level
    `dedup_exact` and fuzzy `minhash_lsh_pairs`: boilerplate shared across
    documents is removed without dropping whole docs. Scale shape: ONE
    shuffle keyed by passage content (row_number window) + one doc_id
    aggregation — never all-pairs, no driver state."""
    return dedup_passages(_t(spark, sf_dir, "documents"))


def dedup_passages(d: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(PASSAGE_W))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.array_join(
            F.slice(toks, i * PASSAGE_W + 1, PASSAGE_W), " "))
    ex = d.select("doc_id", F.posexplode(chunks).alias("idx", "passage"))
    w = W.partitionBy("passage").orderBy("doc_id", "idx")
    k = ex.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(F.col("rn") == 1, F.struct("idx", "passage"))
    return (k.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_passages"),
                 F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
                  .alias("n_kept"),
                 F.concat_ws(" ", F.transform(
                     F.array_sort(F.collect_list(kept_struct)),
                     lambda s: s["passage"])).alias("scrubbed_text")))


ORACLE_DEDUP_PASSAGES = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
chunks AS (
  SELECT doc_id, CAST(u.i AS INT) AS idx,
         array_to_string(ts[(u.i*{PASSAGE_W}+1):(u.i*{PASSAGE_W}+{PASSAGE_W})],
                         ' ') AS passage
  FROM toks,
       UNNEST(range(0, CAST(ceil(len(ts)/{PASSAGE_W}.0) AS BIGINT))) AS u(i)),
k AS (
  SELECT doc_id, idx, passage,
         row_number() OVER (PARTITION BY passage
                            ORDER BY doc_id, idx) AS rn
  FROM chunks)
SELECT doc_id, COUNT(*) AS n_passages,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(passage, ' ' ORDER BY idx)
                FILTER (WHERE rn = 1), '') AS scrubbed_text
FROM k GROUP BY doc_id
"""


# --- Gopher-style repetition quality signals -----------------------------------

def q_repetition_signals(spark, sf_dir):
    """Per-doc repetition signals (the Gopher/MassiveText quality-filter
    family): top-token fraction, top-bigram fraction, and duplicate-bigram
    fraction. Complements `quality_score` (length/stopword/uniq ratios) with
    the repetition axis used to drop boilerplate/spam docs. Pure JVM:
    bigrams built by zip_with over adjacent slices (no self-join), two
    doc-keyed aggregations."""
    return repetition_signals(_t(spark, sf_dir, "documents"))


def repetition_signals(d: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    bigrams = F.zip_with(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    base = d.select("doc_id", toks.alias("ts"), bigrams.alias("bgs"))
    tok_stats = (base.select("doc_id", F.explode("ts").alias("tok"))
                 .groupBy("doc_id", "tok")
                 .agg(F.count(F.lit(1)).alias("c"))
                 .groupBy("doc_id")
                 .agg(F.max("c").alias("mx"), F.sum("c").alias("n")))
    bg_stats = (base.select("doc_id", F.explode("bgs").alias("bg"))
                .groupBy("doc_id", "bg")
                .agg(F.count(F.lit(1)).alias("c"))
                .groupBy("doc_id")
                .agg(F.max("c").alias("mxb"), F.sum("c").alias("nb"),
                     F.count(F.lit(1)).alias("db")))
    return (tok_stats.join(bg_stats, "doc_id")
            .select("doc_id",
                    F.col("n").alias("n_tokens"),
                    F.round(F.col("mx") / F.col("n").cast("double"), 6)
                     .alias("top_token_frac"),
                    F.round(F.col("mxb") / F.col("nb").cast("double"), 6)
                     .alias("top_bigram_frac"),
                    F.round(1.0 - F.col("db") / F.col("nb").cast("double"), 6)
                     .alias("dup_bigram_frac")))


ORACLE_REPETITION = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
tk AS (SELECT doc_id, ts[u.i] AS tok
       FROM toks, UNNEST(range(1, len(ts) + 1)) AS u(i)),
bg AS (SELECT doc_id, ts[u.i] || ' ' || ts[u.i + 1] AS b
       FROM toks, UNNEST(range(1, len(ts))) AS u(i)),
tc AS (SELECT doc_id, MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS n
       FROM (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2)
       GROUP BY doc_id),
bc AS (SELECT doc_id, MAX(c) AS mxb, CAST(SUM(c) AS BIGINT) AS nb,
              COUNT(*) AS db
       FROM (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2)
       GROUP BY doc_id)
SELECT tc.doc_id, tc.n AS n_tokens,
       ROUND(tc.mx / CAST(tc.n AS DOUBLE), 6) AS top_token_frac,
       ROUND(bc.mxb / CAST(bc.nb AS DOUBLE), 6) AS top_bigram_frac,
       ROUND(1.0 - bc.db / CAST(bc.nb AS DOUBLE), 6) AS dup_bigram_frac
FROM tc JOIN bc ON bc.doc_id = tc.doc_id
"""


# --- focal statistics (neighborhood-weighted grid smoothing) -------------------

FOCAL_LVL = 6  # same grid as the B3 ring queries


def q_focal_density(spark, sf_dir):
    """Focal statistics over the event grid (the raster 'focal sum' /
    kernel-density-on-cells op): each cell's smoothed density is the
    integer-weighted sum of event counts over its 5x5 neighborhood
    (weight 4 center / 2 at Chebyshev distance 1 / 1 at distance 2, clamped
    at grid edges). All-integer math keeps the result exact under the value
    hash. Scale shape: one (ix,iy)-keyed count aggregation, a 25-element
    codegen explode (pure JVM), one target-cell aggregation — the
    constant-fan-out stencil pattern that survives any grid size."""
    e = _t(spark, sf_dir, "events").selectExpr(
        f"{fixtures.EVENT_LON_SQL} AS lon", f"{fixtures.EVENT_LAT_SQL} AS lat")
    ix, iy = cells.quantize_sql("lon", "lat", FOCAL_LVL)
    cnt = (e.selectExpr(f"{ix} AS ix", f"{iy} AS iy")
           .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("cnt")))
    offs = [(dx, dy, {0: 4, 1: 2, 2: 1}[max(abs(dx), abs(dy))])
            for dx in range(-2, 3) for dy in range(-2, 3)]
    off_arr = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(wt).alias("wt")) for dx, dy, wt in offs])
    hi = (1 << FOCAL_LVL) - 1
    sh = (cnt.select("ix", "iy", "cnt", F.explode(off_arr).alias("o"))
          .select((F.col("ix") + F.col("o.dx")).alias("nx"),
                  (F.col("iy") + F.col("o.dy")).alias("ny"),
                  (F.col("cnt") * F.col("o.wt")).alias("wc"))
          .where(F.col("nx").between(0, hi) & F.col("ny").between(0, hi)))
    return (sh.groupBy("nx", "ny")
            .agg(F.sum("wc").alias("focal_sum"),
                 F.count(F.lit(1)).alias("n_src"))
            .selectExpr(
                f"{cells.morton_sql('nx', 'ny')} * {1 << cells.LEVEL_BITS}"
                f" + {FOCAL_LVL} AS cell_id",
                "CAST(focal_sum AS BIGINT) AS focal_sum", "n_src"))


def _oracle_focal_density() -> str:
    from .queries_spatial import EVENT_POINTS_SQL
    ix, iy = cells.quantize_sql("lon", "lat", FOCAL_LVL)
    hi = (1 << FOCAL_LVL) - 1
    return f"""
WITH cnts AS (
  SELECT {ix} AS ix, {iy} AS iy, COUNT(*) AS cnt
  FROM {EVENT_POINTS_SQL} p GROUP BY 1, 2),
sh AS (
  SELECT ix + dx.v AS nx, iy + dy.v AS ny,
         cnt * (CASE WHEN GREATEST(ABS(dx.v), ABS(dy.v)) = 0 THEN 4
                     WHEN GREATEST(ABS(dx.v), ABS(dy.v)) = 1 THEN 2
                     ELSE 1 END) AS wc
  FROM cnts
  CROSS JOIN (VALUES (-2), (-1), (0), (1), (2)) AS dx(v)
  CROSS JOIN (VALUES (-2), (-1), (0), (1), (2)) AS dy(v)
  WHERE ix + dx.v BETWEEN 0 AND {hi} AND iy + dy.v BETWEEN 0 AND {hi})
SELECT {cells.morton_sql('nx', 'ny')} * {1 << cells.LEVEL_BITS}
         + {FOCAL_LVL} AS cell_id,
       CAST(SUM(wc) AS BIGINT) AS focal_sum, COUNT(*) AS n_src
FROM sh GROUP BY nx, ny
"""


# --- adaptive hotspot clustering (grid-DBSCAN via connected components) --------

HOT_LVL = 7  # 128x128 grid


def q_hotspot_clusters(spark, sf_dir):
    """Density-based spatial clustering of the event grid (the DBSCAN /
    Getis-Ord hotspot analog for cells): a cell is HOT when its event count
    exceeds 2x the mean count over occupied cells (a data-adaptive
    threshold — at any corpus size the hot set stays in the Poisson tail,
    so components stay small and label propagation converges in a few
    rounds), and 8-adjacent hot cells merge into clusters via distributed
    connected components (graph.py — one shuffle per round, driver holds a
    counter only). Output: per-cluster cell/event counts and integer bbox,
    all-integer so the value hash is exact. Scale shape: one grid count
    aggregation, a 1-row broadcast threshold, a constant-fan-out (8)
    neighbor explode + one equi-join for edges — never all-pairs."""
    from .graph import connected_components
    n = 1 << HOT_LVL
    e = _t(spark, sf_dir, "events").selectExpr(
        f"{fixtures.EVENT_LON_SQL} AS lon", f"{fixtures.EVENT_LAT_SQL} AS lat")
    ix, iy = cells.quantize_sql("lon", "lat", HOT_LVL)
    cnt = (e.selectExpr(f"{ix} AS ix", f"{iy} AS iy")
           .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("cnt")))
    stats = cnt.agg(F.sum("cnt").alias("s"), F.count(F.lit(1)).alias("m"))
    hot = (cnt.crossJoin(F.broadcast(stats))
           .where(F.col("cnt").cast("double") >=
                  (F.lit(2.0) * F.col("s").cast("double")) / F.col("m"))
           .select("ix", "iy", "cnt",
                   (F.col("ix") * n + F.col("iy")).alias("key"))
           .persist())
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)]
    off_arr = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                        for dx, dy in offs])
    nbr = (hot.select("key", "ix", "iy", F.explode(off_arr).alias("o"))
           .select("key", (F.col("ix") + F.col("o.dx")).alias("nx"),
                   (F.col("iy") + F.col("o.dy")).alias("ny"))
           .where(F.col("nx").between(0, n - 1) &
                  F.col("ny").between(0, n - 1))
           .select("key", (F.col("nx") * n + F.col("ny")).alias("nk")))
    edges = (nbr.join(hot.select(F.col("key").alias("nk")), "nk")
             .where(F.col("key") < F.col("nk"))
             .select(F.col("key").alias("src"), F.col("nk").alias("dst")))
    comp = connected_components(edges, "src", "dst")
    lab = (hot.join(comp, hot["key"] == comp["node"], "left")
           .select("ix", "iy", "cnt",
                   F.coalesce("component", "key").alias("cluster")))
    return (lab.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("cnt").alias("n_events"),
                 F.min("ix").alias("min_ix"), F.max("ix").alias("max_ix"),
                 F.min("iy").alias("min_iy"), F.max("iy").alias("max_iy"))
            .withColumn("n_events", F.col("n_events").cast("long")))


def _oracle_hotspot_clusters() -> str:
    from .queries_spatial import EVENT_POINTS_SQL
    ix, iy = cells.quantize_sql("lon", "lat", HOT_LVL)
    n = 1 << HOT_LVL
    return f"""
WITH RECURSIVE cnts AS (
  SELECT {ix} AS ix, {iy} AS iy, COUNT(*) AS cnt
  FROM {EVENT_POINTS_SQL} p GROUP BY 1, 2),
hot AS (
  SELECT ix, iy, cnt, ix * {n} + iy AS key FROM cnts
  WHERE CAST(cnt AS DOUBLE) >=
        (2.0 * (SELECT CAST(SUM(cnt) AS DOUBLE) FROM cnts))
        / (SELECT COUNT(*) FROM cnts)),
ed AS (
  SELECT h.key AS s, (h.ix + dx.v) * {n} + (h.iy + dy.v) AS d
  FROM hot h
  CROSS JOIN (VALUES (-1), (0), (1)) AS dx(v)
  CROSS JOIN (VALUES (-1), (0), (1)) AS dy(v)
  WHERE NOT (dx.v = 0 AND dy.v = 0)
    AND h.ix + dx.v BETWEEN 0 AND {n - 1}
    AND h.iy + dy.v BETWEEN 0 AND {n - 1}),
edges AS (
  SELECT e.s, e.d FROM ed e JOIN hot h2 ON h2.key = e.d),
reach(k, m) AS (
  SELECT key, key FROM hot
  UNION
  SELECT r.k, e.d FROM reach r JOIN edges e ON e.s = r.m),
comp AS (SELECT k AS key, MIN(m) AS cluster FROM reach GROUP BY k)
SELECT c.cluster, COUNT(*) AS n_cells, CAST(SUM(h.cnt) AS BIGINT) AS n_events,
       MIN(h.ix) AS min_ix, MAX(h.ix) AS max_ix,
       MIN(h.iy) AS min_iy, MAX(h.iy) AS max_iy
FROM hot h JOIN comp c ON c.key = h.key
GROUP BY c.cluster
"""


# --- global spatial autocorrelation (Moran's I / Geary's C) --------------------

AC_LVL = 7  # 128x128 lattice, 8-neighbor (queen) contiguity


def _autocorr_formulas(n_cells: int, w_pairs: int) -> tuple[str, str]:
    """Moran's I and Geary's C over the FULL lattice (empty cells are x=0
    observations), rearranged so every aggregate is an exact integer and
    each statistic is ONE float64 division of two integers — bit-identical
    on any engine and any aggregation order:
      I = (n^2*P - 2*n*Sx*D + W*Sx^2) / (W * (n*Sx2 - Sx^2))
      C = (n-1) * (2*D2 - 2*P) * n / (2*W * (n*Sx2 - Sx^2))
    with P = sum over ordered adjacent pairs of x_i*x_j, D = sum deg_i*x_i,
    D2 = sum deg_i*x_i^2, Sx/Sx2 = first/second moments, W = ordered
    adjacent-pair count (a lattice constant).

    The MOMENTS stay exact int64 (distributed integer sums are exact in
    any order); the final composition runs in float64 — n^2*P alone
    overflows int64 past ~2.7M events (caught by the 200M-row bench), and
    float64 products of the same exact inputs in the same literal order
    are still bit-identical across engines (every op correctly
    rounded)."""
    n, w = float(n_cells), float(w_pairs)
    m = {k: f"CAST({k} AS DOUBLE)" for k in
         ("sx", "sx2", "p_adj", "d_deg", "d2_deg")}
    den = f"({n!r} * {m['sx2']} - {m['sx']} * {m['sx']})"
    i_num = (f"({n!r} * {n!r} * {m['p_adj']} - 2.0 * {n!r} * {m['sx']}"
             f" * {m['d_deg']} + {w!r} * {m['sx']} * {m['sx']})")
    c_num = (f"(({n!r} - 1.0) * (2.0 * {m['d2_deg']} - 2.0 * {m['p_adj']})"
             f" * {n!r})")
    return (f"ROUND({i_num} / ({w!r} * {den}), 9)",
            f"ROUND({c_num} / (2.0 * {w!r} * {den}), 9)")


def q_spatial_autocorr(spark, sf_dir):
    """Global spatial autocorrelation of the event-count lattice — Moran's I
    and Geary's C under queen (8-neighbor) contiguity, the first-reach
    spatial statistic for 'is this density surface clustered, random, or
    dispersed?'. Everything distributed is integer-exact: per-cell counts,
    a constant-fan-out neighbor explode + one equi-join for the adjacent
    cross-moment P, closed-form per-cell lattice degree for D/D2 (edge
    cells have fewer neighbors), and the lattice-constant W; each statistic
    composes those exact moments in float64 (bit-identical cross-engine;
    the moments themselves stay exact int64 to ~4e11 events on this
    lattice — Sx2 <= N^2/n_cells). Scale shape: one grid aggregation + one
    neighbor equi-join, output is ONE row."""
    n = 1 << AC_LVL
    e = _t(spark, sf_dir, "events").selectExpr(
        f"{fixtures.EVENT_LON_SQL} AS lon", f"{fixtures.EVENT_LAT_SQL} AS lat")
    ix, iy = cells.quantize_sql("lon", "lat", AC_LVL)
    cnt = (e.selectExpr(f"{ix} AS ix", f"{iy} AS iy")
           .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("cnt"))
           .persist())
    deg = ((F.least(F.col("ix") + 1, F.lit(n - 1)) -
            F.greatest(F.col("ix") - 1, F.lit(0)) + 1) *
           (F.least(F.col("iy") + 1, F.lit(n - 1)) -
            F.greatest(F.col("iy") - 1, F.lit(0)) + 1) - 1)
    moments = cnt.agg(
        F.sum("cnt").alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sx2"),
        F.sum(deg * F.col("cnt")).alias("d_deg"),
        F.sum(deg * F.col("cnt") * F.col("cnt")).alias("d2_deg"))
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)]
    off_arr = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                        for dx, dy in offs])
    nbr = (cnt.select("cnt", F.explode(off_arr).alias("o"),
                      (F.col("ix") + F.col("o.dx")).alias("nx"),
                      (F.col("iy") + F.col("o.dy")).alias("ny"))
           .where(F.col("nx").between(0, n - 1) &
                  F.col("ny").between(0, n - 1)))
    rhs = cnt.select(F.col("ix").alias("nx"), F.col("iy").alias("ny"),
                     F.col("cnt").alias("ncnt"))
    p_adj = (nbr.join(rhs, ["nx", "ny"])
             .agg(F.sum(F.col("cnt") * F.col("ncnt")).alias("p_adj")))
    n_cells = n * n
    w_pairs = 4 * n * (n - 1) + 4 * (n - 1) * (n - 1)
    moran, geary = _autocorr_formulas(n_cells, w_pairs)
    return (moments.crossJoin(p_adj)
            .selectExpr(f"{n_cells} AS n_cells", f"{w_pairs} AS w_pairs",
                        "CAST(sx AS BIGINT) AS sx",
                        "CAST(sx2 AS BIGINT) AS sx2",
                        "CAST(p_adj AS BIGINT) AS p_adj",
                        "CAST(d_deg AS BIGINT) AS d_deg",
                        f"{moran} AS moran_i", f"{geary} AS geary_c"))


def _oracle_spatial_autocorr() -> str:
    from .queries_spatial import EVENT_POINTS_SQL
    ix, iy = cells.quantize_sql("lon", "lat", AC_LVL)
    n = 1 << AC_LVL
    n_cells = n * n
    w_pairs = 4 * n * (n - 1) + 4 * (n - 1) * (n - 1)
    moran, geary = _autocorr_formulas(n_cells, w_pairs)
    return f"""
WITH cnts AS (
  SELECT {ix} AS ix, {iy} AS iy, COUNT(*) AS cnt
  FROM {EVENT_POINTS_SQL} p GROUP BY 1, 2),
degd AS (
  SELECT ix, iy, cnt,
         (LEAST(ix + 1, {n - 1}) - GREATEST(ix - 1, 0) + 1)
       * (LEAST(iy + 1, {n - 1}) - GREATEST(iy - 1, 0) + 1) - 1 AS deg
  FROM cnts),
mom AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS sx,
         CAST(SUM(cnt * cnt) AS BIGINT) AS sx2,
         CAST(SUM(deg * cnt) AS BIGINT) AS d_deg,
         CAST(SUM(deg * cnt * cnt) AS BIGINT) AS d2_deg
  FROM degd),
padj AS (
  SELECT CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS p_adj
  FROM cnts a
  CROSS JOIN (VALUES (-1), (0), (1)) AS dx(v)
  CROSS JOIN (VALUES (-1), (0), (1)) AS dy(v)
  JOIN cnts b ON b.ix = a.ix + dx.v AND b.iy = a.iy + dy.v
  WHERE NOT (dx.v = 0 AND dy.v = 0))
SELECT {n_cells} AS n_cells, {w_pairs} AS w_pairs, sx, sx2, p_adj, d_deg,
       {moran} AS moran_i, {geary} AS geary_c
FROM mom CROSS JOIN padj
"""


# --- TF-IDF keyword extraction --------------------------------------------------

TFIDF_TOPK = 3


def q_tfidf_keywords(spark, sf_dir):
    """Per-document top-k keywords by TF-IDF (the classic keyword-extraction
    / relevance-weighting pass of a text corpus pipeline): tf = in-doc term
    count, idf = ln((N+1)/(df+1)) with N = corpus size, df = docs containing
    the term. Rank is computed over the ROUNDED score (6 dp) with a term
    tiebreak so ordering is reproducible across engines and partitionings.
    Scale shape: one (doc,term) count shuffle, one term-keyed df
    aggregation joined back on the term key, a 1-row broadcast N — never
    doc x doc, no driver state."""
    return tfidf_keywords(_t(spark, sf_dir, "documents"))


def tfidf_keywords(d: DataFrame) -> DataFrame:
    tf = (d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.join(df_, "term").crossJoin(F.broadcast(n_docs))
              .withColumn("score", F.round(
                  F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0)) /
                                      (F.col("df") + F.lit(1.0))), 6)))
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TFIDF_TOPK)
            .select("doc_id", "term", "rank", "score"))


ORACLE_TFIDF = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
tf AS (
  SELECT doc_id, ts[u.i] AS term, COUNT(*) AS tf
  FROM toks, UNNEST(range(1, len(ts) + 1)) AS u(i)
  GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * LN((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS score
  FROM tf JOIN dfreq ON dfreq.term = tf.term CROSS JOIN n),
r AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, term, rank, score FROM r WHERE rank <= {TFIDF_TOPK}
"""


# --- array higher-order-function suite (C10/C13 JVM-lambda coverage) -----------

def q_array_functions_suite(spark, sf_dir):
    """One wide row per doc exercising the array higher-order functions
    (filter / aggregate / exists / zip_with+sequence / array_distinct /
    array_sort / slice / array_join) — the C10 surface a user composing
    token pipelines actually touches. Everything stays in codegen'd JVM
    lambdas (no Python); the oracle recomputes each value relationally, so
    this also cross-checks Spark's HOF semantics against a plain-SQL
    reading. All-integer/string outputs, exact under the value hash."""
    d = _t(spark, sf_dir, "documents")
    return d.selectExpr(
        "doc_id",
        "size(filter(split(text, ' '), t -> length(t) > 4)) AS n_long",
        "aggregate(split(text, ' '), 0L, (acc, t) -> acc + length(t))"
        " AS sum_len",
        "size(array_distinct(split(text, ' '))) AS n_uniq",
        "array_join(slice(array_sort(split(text, ' ')), 1, 3), ',')"
        " AS first3",
        "CAST(exists(split(text, ' '), t -> t = 'the') AS INT) AS has_the",
        "aggregate(zip_with(split(text, ' '),"
        " sequence(1, size(split(text, ' '))),"
        " (t, i) -> i * length(t)), 0L, (a, x) -> a + x) AS pos_weight")


ORACLE_ARRAY_SUITE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
ex AS (SELECT doc_id, ts[u.i] AS tok, CAST(u.i AS BIGINT) AS pos
       FROM toks, UNNEST(range(1, len(ts) + 1)) AS u(i))
SELECT t.doc_id,
       CAST(SUM(CASE WHEN LENGTH(e.tok) > 4 THEN 1 ELSE 0 END) AS INT)
         AS n_long,
       CAST(SUM(LENGTH(e.tok)) AS BIGINT) AS sum_len,
       CAST(COUNT(DISTINCT e.tok) AS INT) AS n_uniq,
       array_to_string((list_sort(ANY_VALUE(t.ts)))[1:3], ',') AS first3,
       CAST(MAX(CASE WHEN e.tok = 'the' THEN 1 ELSE 0 END) AS INT)
         AS has_the,
       CAST(SUM(e.pos * LENGTH(e.tok)) AS BIGINT) AS pos_weight
FROM toks t JOIN ex e ON e.doc_id = t.doc_id
GROUP BY t.doc_id
"""


QUERIES: dict = {
    "corpus_split_stratified": (q_corpus_split_stratified, ORACLE_SPLIT),
    "contamination_check": (q_contamination_check, ORACLE_CONTAMINATION),
    "tile_pyramid": (q_tile_pyramid, ORACLE_PYRAMID),
    "polygon_metrics": (q_polygon_metrics, _oracle_polygon_metrics()),
    "image_augment_checksums": (q_image_augment, _oracle_image_augment()),
    "trajectory_stats": (q_trajectory_stats, _oracle_trajectory()),
    "caption_tile_stats": (q_caption_tile_stats, _oracle_caption_tiles()),
    "cell_compact_cover": (q_cell_compact_cover, _oracle_cell_compact()),
    "ring_validity": (q_ring_validity, _oracle_ring_validity()),
    "od_flows": (q_od_flows, _oracle_od_flows()),
    "dedup_passages": (q_dedup_passages, ORACLE_DEDUP_PASSAGES),
    "repetition_signals": (q_repetition_signals, ORACLE_REPETITION),
    "focal_density": (q_focal_density, _oracle_focal_density()),
    "hotspot_clusters": (q_hotspot_clusters, _oracle_hotspot_clusters()),
    "tfidf_keywords": (q_tfidf_keywords, ORACLE_TFIDF),
    "spatial_autocorr": (q_spatial_autocorr, _oracle_spatial_autocorr()),
    "array_functions_suite": (q_array_functions_suite, ORACLE_ARRAY_SUITE),
}


# --- split_leakage_audit: near-dup pairs straddling the ML split --------------
#
# The data-leakage check every train/eval pipeline needs between
# contamination_check (benchmark overlap) and dedup (intra-corpus):
# LSH near-dup pairs (minhash_lsh_pairs' exact machinery) classified by
# the train/val/test assignment of BOTH endpoints (corpus_split's hash
# split) — a pair that straddles the split leaks eval signal into
# training.  Output per (split_a, split_b) class: pair count, total
# matching bands, and the leak flag; plus exact integer counts that
# make leak_fraction one quantized division downstream.  Composes two
# gated operators under ONE oracle — the gate proves the composition,
# not just the parts.

# The audit's split key re-mixes the id (mix(997*id + 13) % 100): the
# corpus-split hash itself lands on a COARSE LATTICE for small-key
# arithmetic progressions — mix(doc_id) % 100 of every multiple of 10
# below 5000 sits in [25, 77], i.e. 100% 'train' on the whole LSH
# subset at gate SFs — a real low-entropy-small-key property of the
# two-round LCG, recorded here so nobody assumes the split is
# independent of id-residue features at small scale.
AUDIT_SPLIT_SQL = (
    f"CASE WHEN {mix_sql('997 * doc_id + 13')} % 100 < 80 THEN 'train' "
    f"WHEN {mix_sql('997 * doc_id + 13')} % 100 < 90 THEN 'val' "
    "ELSE 'test' END")


def q_split_leakage_audit(spark, sf_dir):
    from .queries_text import q_minhash_lsh_pairs
    pairs = q_minhash_lsh_pairs(spark, sf_dir)
    sa = AUDIT_SPLIT_SQL.replace("doc_id", "doc_a")
    sb = AUDIT_SPLIT_SQL.replace("doc_id", "doc_b")
    return (pairs.selectExpr(
        "n_bands",
        f"LEAST({sa}, {sb}) AS split_lo",
        f"GREATEST({sa}, {sb}) AS split_hi")
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             F.sum("n_bands").alias("sum_bands"))
        .selectExpr(
            "split_lo", "split_hi",
            "CAST(n_pairs AS BIGINT) AS n_pairs",
            "CAST(sum_bands AS BIGINT) AS sum_bands",
            "CAST(CASE WHEN split_lo != split_hi THEN 1 ELSE 0 END "
            "AS INT) AS is_leak"))


def _oracle_split_leakage() -> str:
    from .queries_text import ORACLE_LSH_PAIRS
    sa = AUDIT_SPLIT_SQL.replace("doc_id", "doc_a")
    sb = AUDIT_SPLIT_SQL.replace("doc_id", "doc_b")
    return f"""
WITH pairs AS MATERIALIZED ({ORACLE_LSH_PAIRS}),
tagged AS (
  SELECT n_bands, LEAST({sa}, {sb}) AS split_lo,
         GREATEST({sa}, {sb}) AS split_hi
  FROM pairs)
SELECT split_lo, split_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(n_bands) AS BIGINT) AS sum_bands,
       CAST(CASE WHEN split_lo != split_hi THEN 1 ELSE 0 END AS INT)
         AS is_leak
FROM tagged GROUP BY 1, 2
"""


QUERIES.update({
    "split_leakage_audit": (q_split_leakage_audit,
                            _oracle_split_leakage()),
})
